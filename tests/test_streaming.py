"""Streaming extraction: file source -> mapInArrow -> foreachBatch
sink with lineage; availableNow drain must match the batch path."""

from pyspark.sql import functions as F

from html_to_document_spark.operators.extract_spans import extract_spans
from html_to_document_spark.sources.synthetic import generate_corpus
from html_to_document_spark.streaming.stream import run_stream


def test_stream_matches_batch(spark, tmp_path):
    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    lineage = str(tmp_path / "lineage")

    corpus = generate_corpus(spark, 40, seed=5, giant_frac=0.0)
    corpus.write.parquet(in_path)

    run_stream(spark, in_path, out_path, ckpt, lineage_path=lineage)

    streamed = spark.read.parquet(out_path)
    batch = extract_spans(spark.read.parquet(in_path))
    assert streamed.count() == 40
    diff = (
        streamed.select("doc_id", F.to_json("spans").alias("j"))
        .exceptAll(batch.select("doc_id", F.to_json("spans").alias("j")))
        .count()
    )
    assert diff == 0
    lin = spark.read.parquet(lineage)
    assert lin.agg(F.sum("input_count")).first()[0] == 40


def test_sink_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the sink with the same
    batch_id must replace, not duplicate, data and lineage (ADVICE r1)."""
    from html_to_document_spark.streaming.stream import make_sink

    out_path = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    corpus = generate_corpus(spark, 20, seed=9, giant_frac=0.0)
    batch = extract_spans(corpus)

    sink = make_sink(out_path, lineage)
    sink(batch, 0)
    sink(batch, 0)  # simulated retry of the same micro-batch
    sink(batch, 1)  # a different batch appends normally

    out = spark.read.parquet(out_path)
    assert out.filter(F.col("batch_id") == 0).count() == 20
    assert out.count() == 40
    lin = spark.read.parquet(lineage)
    assert lin.filter(F.col("partition_id") == 0).count() == 1
    assert lin.agg(F.sum("input_count")).first()[0] == 40


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState exact dedup: first occurrence wins across
    micro-batches; state persists in the checkpoint between runs."""
    from html_to_document_spark.streaming.stateful import run_streaming_dedup

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [("a1", "alpha"), ("a2", "alpha"), ("b1", "beta")],
        "doc_id string, text string",
    )
    batch1.write.parquet(in_path)
    run_streaming_dedup(spark, in_path, out_path, ckpt)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(out_path).collect()}
    # within one batch: min doc_id wins
    assert got == {("a1", "alpha"), ("b1", "beta")}

    # second run with new files: previously-seen texts suppressed by
    # state, new text emitted
    batch2 = spark.createDataFrame(
        [("a9", "alpha"), ("c1", "gamma"), ("c2", "gamma")],
        "doc_id string, text string",
    )
    batch2.write.mode("append").parquet(in_path)
    run_streaming_dedup(spark, in_path, out_path, ckpt)
    got = {(r.doc_id, r.text) for r in spark.read.parquet(out_path).collect()}
    assert got == {("a1", "alpha"), ("b1", "beta"), ("c1", "gamma")}


def test_stream_pipeline_dedup_across_batches(spark, tmp_path):
    """Streaming ingest pipeline: extraction + scoring + stateful dedup
    across two drains; re-ingested duplicates are suppressed by state."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = generate_corpus(spark, 30, seed=23, giant_frac=0.0)
    corpus.write.parquet(in_path)
    run_stream_pipeline(spark, in_path, out_path, ckpt)
    first = spark.read.parquet(out_path)
    n1 = first.count()
    assert 0 < n1 <= 30
    assert first.select("doc_id").distinct().count() == n1

    # re-ingest the same docs under new ids + some fresh docs
    corpus.select(
        F.concat(F.lit("re-"), "doc_id").alias("doc_id"), "spans"
    ).write.mode("append").parquet(in_path)
    generate_corpus(spark, 10, seed=77, giant_frac=0.0).select(
        F.concat(F.lit("new-"), "doc_id").alias("doc_id"), "spans"
    ).write.mode("append").parquet(in_path)
    run_stream_pipeline(spark, in_path, out_path, ckpt)
    out = spark.read.parquet(out_path)
    ids = [r.doc_id for r in out.select("doc_id").collect()]
    # no re-ingested duplicate survives; fresh docs flow through
    assert not any(i.startswith("re-") for i in ids)
    assert any(i.startswith("new-") for i in ids)
    texts = [r.text for r in out.collect()]
    assert len(set(texts)) == len(texts)


def test_stream_pipeline_pii_scrub(spark, tmp_path):
    """Streaming hygiene parity with the batch pipeline: PII in a span
    is redacted in the sink output (same projection, streaming plan)."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = generate_corpus(spark, 12, seed=31, giant_frac=0.0)
    corpus = corpus.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(
                    s["kind"] == "text",
                    F.concat(F.lit("<p>ping admin@host.org</p>"), s["text"]),
                ).otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    corpus.write.parquet(in_path)
    run_stream_pipeline(spark, in_path, out_path, ckpt,
                        min_quality=0.0, pii_scrub=True)
    texts = [r.text for r in spark.read.parquet(out_path).collect()]
    assert texts
    assert all("admin@host.org" not in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)


def test_stream_pipeline_decontaminate(spark, tmp_path):
    """Streaming decontamination parity: a benchmark doc overlapping a
    streamed doc's text drops it from the sink (foreachBatch reuses the
    exact batch operators; paragraph and 13-gram modes)."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    ckpt_base = str(tmp_path / "ckpt")

    corpus = generate_corpus(spark, 12, seed=33, giant_frac=0.0)
    corpus.write.parquet(in_path)

    # baseline (no benchmark): all surviving docs land in the sink
    out_plain = str(tmp_path / "out_plain")
    run_stream_pipeline(spark, in_path, out_plain, ckpt_base + "0",
                        min_quality=0.0)
    plain = {r.doc_id: r.text for r in spark.read.parquet(out_plain).collect()}
    assert plain
    victim_id = sorted(plain)[0]

    # benchmark = one surviving doc's exact text -> paragraph mode drops it
    bench = spark.createDataFrame(
        [(999, plain[victim_id])], "doc_id long, text string"
    )
    out_para = str(tmp_path / "out_para")
    run_stream_pipeline(spark, in_path, out_para, ckpt_base + "1",
                        min_quality=0.0, benchmark=bench)
    kept = {r.doc_id for r in spark.read.parquet(out_para).collect()}
    assert victim_id not in kept
    assert kept == set(plain) - {victim_id}

    # ngram mode: reflowed benchmark (different paragraph breaks but a
    # shared 13-word window) still drops the doc
    words = plain[victim_id].split()
    if len(words) >= 13:
        reflowed = "unrelated intro. " + " ".join(words[:13]) + " tail"
        bench2 = spark.createDataFrame(
            [(998, reflowed)], "doc_id long, text string"
        )
        out_ng = str(tmp_path / "out_ng")
        run_stream_pipeline(spark, in_path, out_ng, ckpt_base + "2",
                            min_quality=0.0, benchmark=bench2,
                            decontaminate_mode="ngram")
        kept_ng = {r.doc_id for r in spark.read.parquet(out_ng).collect()}
        assert victim_id not in kept_ng


def test_stream_pipeline_gopher_filter(spark, tmp_path):
    """Batch-parity Gopher rules in the streaming plan: a symbol-heavy
    doc passes the base filters but is dropped by gopher_filter."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")

    good = ("the data and words that we have with all of "
            + " ".join(f"word{i}" for i in range(60)) + ".")
    rows = [
        ("keep", [{"kind": "text", "text": f"<p>{good}</p>",
                   "media_ref": None, "offset": 0}]),
        ("drop", [{"kind": "text",
                   "text": "<p>" + good.replace("word", "#word") + "</p>",
                   "media_ref": None, "offset": 0}]),
    ]
    spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).write.parquet(in_path)

    out_plain = str(tmp_path / "plain")
    run_stream_pipeline(spark, in_path, out_plain, ckpt + "0",
                        min_quality=0.0)
    assert {r.doc_id for r in spark.read.parquet(out_plain).collect()} == \
        {"keep", "drop"}

    out_gopher = str(tmp_path / "gopher")
    run_stream_pipeline(spark, in_path, out_gopher, ckpt + "1",
                        min_quality=0.0, gopher_filter=True)
    assert {r.doc_id for r in spark.read.parquet(out_gopher).collect()} == \
        {"keep"}


def test_stream_pipeline_lm_filter(spark, tmp_path):
    """Streaming LM-perplexity parity with the batch pipeline: a model
    fitted on the corpus keeps normal docs; a planted gibberish doc is
    dropped by the same broadcast-model stage in the streaming plan."""
    from html_to_document_spark.operators.lm_filter import (
        fit_ngram_lm,
        perplexity,
    )
    from html_to_document_spark.plans.pipeline import (
        build_training_pipeline,
    )
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    corpus = generate_corpus(spark, 20, seed=41, giant_frac=0.0)
    ref = build_training_pipeline(
        corpus, num_partitions=4, min_quality=0.0, materialize="none"
    ).select("doc_id", "text")
    model = fit_ngram_lm(ref, min_count=2)
    cut = max(r["ppl"] for r in perplexity(ref, model).collect()) + 1e-4

    gib = spark.createDataFrame(
        [("zzz-gibberish",
          [("text", "xqj vfp wkz bnm qqv rrw ssx tty uuz vva", None, 0)])],
        corpus.schema,
    )
    corpus.unionByName(gib).write.parquet(in_path)
    run_stream_pipeline(
        spark, in_path, out_path, ckpt,
        min_quality=0.0, lm_model=model, lm_max_ppl=cut,
    )
    ids = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert "zzz-gibberish" not in ids
    assert len(ids) > 0


def test_stream_pipeline_fix_encoding(spark, tmp_path):
    """Streaming hygiene parity: mojibake in a span is repaired in the
    sink output (the same projection as the batch fix_encoding)."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    moji = "café résumé".encode("utf-8").decode("cp1252")
    decomp = "A\u030angstro\u0308m"  # decomposed, clean encoding
    corpus = generate_corpus(spark, 10, seed=37, giant_frac=0.0)
    corpus = corpus.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(
                    s["kind"] == "text",
                    F.concat(s["text"], F.lit(" " + moji + " " + decomp)),
                ).otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    corpus.write.parquet(in_path)
    # unicode_form rides the same run: the stream must repair THEN
    # compose (batch parity with build_training_pipeline's ordering)
    run_stream_pipeline(spark, in_path, out_path, ckpt,
                        min_quality=0.0, fix_encoding=True,
                        unicode_form="NFC")
    texts = [r.text for r in spark.read.parquet(out_path).collect()]
    assert texts
    assert any("café résumé" in t for t in texts)
    assert all("Ã©" not in t for t in texts)
    assert any("Ångström" in t for t in texts)  # composed output
    assert all("\u030a" not in t for t in texts)  # no bare marks left


def test_streaming_domain_cap(spark, tmp_path):
    """r5: stateful per-domain cap — each host emits its first max_docs
    docs across micro-batches (arrival order; in-batch ties to the
    smallest doc_id); NULL-host rows bypass the cap entirely."""
    from html_to_document_spark.streaming.stateful import (
        run_streaming_domain_cap,
    )

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(
        [(f"a{i}", f"http://hot.example.com/{i}") for i in range(3)]
        + [("b1", "http://cold.org/x"), ("n1", "not a url")],
        "doc_id string, url string",
    )
    batch1.write.parquet(in_path)
    run_streaming_domain_cap(spark, in_path, out_path, ckpt, max_docs=4)
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert got == {"a0", "a1", "a2", "b1", "n1"}  # all under budget

    # second batch: hot host has budget 1 left -> smallest id only;
    # cold host and NULL-host rows unaffected
    batch2 = spark.createDataFrame(
        [("a9", "http://hot.example.com/9"),
         ("a5", "http://hot.example.com/5"),
         ("a7", "http://hot.example.com/7"),
         ("b2", "http://cold.org/y"), ("n2", "still not a url")],
        "doc_id string, url string",
    )
    batch2.write.mode("append").parquet(in_path)
    run_streaming_domain_cap(spark, in_path, out_path, ckpt, max_docs=4)
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert got == {"a0", "a1", "a2", "b1", "n1", "a5", "b2", "n2"}

    # third batch: hot host at cap -> everything suppressed
    batch3 = spark.createDataFrame(
        [("a99", "http://hot.example.com/99")], "doc_id string, url string"
    )
    batch3.write.mode("append").parquet(in_path)
    run_streaming_domain_cap(spark, in_path, out_path, ckpt, max_docs=4)
    assert spark.read.parquet(out_path).count() == 8


def test_stream_pipeline_blocklist_entropy_fuzzy(spark, tmp_path):
    """Batch-parity r5 stages in the streaming plan: the C4 blocklist
    rule, the char-entropy band-pass (both stateless projections) and
    fuzzy decontamination (asymmetric band join in foreachBatch)."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")

    good = ("the data and words that we have with all of "
            + " ".join(f"word{i}" for i in range(60)) + ".")
    phrase = "the fza and fzb of fzc that fzd have fze"
    rows = [
        ("keep", [{"kind": "text", "text": f"<p>{good}</p>",
                   "media_ref": None, "offset": 0}]),
        ("badword", [{"kind": "text",
                      "text": f"<p>{good} zorple</p>",
                      "media_ref": None, "offset": 0}]),
        ("flood", [{"kind": "text",
                    "text": "<p>" + "the " * 5 + "a " * 200 + "</p>",
                    "media_ref": None, "offset": 0}]),
        ("contaminated", [{"kind": "text",
                           "text": "<p>" + " ".join([phrase] * 6) + "</p>",
                           "media_ref": None, "offset": 0}]),
    ]
    spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).write.parquet(in_path)
    bench = spark.createDataFrame(
        [(999, " ".join([phrase] * 4))], "doc_id long, text string"
    )

    out_plain = str(tmp_path / "plain")
    run_stream_pipeline(spark, in_path, out_plain, str(tmp_path / "ck0"),
                        min_quality=0.0)
    assert {r.doc_id for r in spark.read.parquet(out_plain).collect()} == \
        {"keep", "badword", "flood", "contaminated"}

    out_filtered = str(tmp_path / "filt")
    run_stream_pipeline(spark, in_path, out_filtered, str(tmp_path / "ck1"),
                        min_quality=0.0, blocklist=("zorple",),
                        entropy_band=(2.0, 6.0), benchmark=bench,
                        decontaminate_mode="fuzzy")
    assert {r.doc_id for r in spark.read.parquet(out_filtered).collect()} == \
        {"keep"}


def test_streaming_canonical_dedup(spark, tmp_path):
    """r5 continuation: canonical mirror collapse across micro-batches
    — first doc per canonical key wins forever (in-batch ties to the
    smallest doc_id); noindex pages drop; keyless rows bypass."""
    from html_to_document_spark.streaming.stateful import (
        run_streaming_canonical_dedup,
    )

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    canon = '<link rel="canonical" href="http://site.com/art">'

    batch1 = spark.createDataFrame(
        [
            # two mirrors of one article in ONE batch: min id wins
            ("m2", "http://site.com/art?print=1", f"<p>x</p>{canon}"),
            ("m1", "http://m.site.com/art", f"<p>y</p>{canon}"),
            # own-URL key (no canonical declared)
            ("p1", "http://other.com/p?a=1", "<p>z</p>"),
            # noindex page drops regardless of key
            ("x1", "http://other.com/q",
             '<meta name="robots" content="noindex"><p>w</p>'),
            # keyless row passes through
            ("k1", "not a url", "<p>k</p>"),
        ],
        "doc_id string, url string, html string",
    )
    batch1.write.parquet(in_path)
    run_streaming_canonical_dedup(spark, in_path, out_path, ckpt)
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert got == {"m1", "p1", "k1"}

    # second batch: later mirrors of the same canonical suppressed;
    # tracking-param variant of other.com/p?a=1 suppressed; a fresh
    # canonical emits; keyless rows never dedup against each other
    batch2 = spark.createDataFrame(
        [
            ("m9", "http://site.com/art;v2", f"<p>q</p>{canon}"),
            ("p2", "http://OTHER.com/p?utm_s=1&a=1#f", "<p>r</p>"),
            ("f1", "http://fresh.net/new", "<p>s</p>"),
            ("k2", "not a url", "<p>k</p>"),
        ],
        "doc_id string, url string, html string",
    )
    batch2.write.mode("append").parquet(in_path)
    run_streaming_canonical_dedup(spark, in_path, out_path, ckpt)
    got = {r.doc_id for r in spark.read.parquet(out_path).collect()}
    assert got == {"m1", "p1", "k1", "f1", "k2"}


def test_stream_pipeline_line_dedup_parity(spark, tmp_path):
    """Streaming line_dedup parity: a span-repeated line collapses to
    one copy in the sink output (the same stateless projection as the
    batch pipeline), and the newline-join requirement is enforced."""
    import pytest

    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    nav = "home products pricing about contact careers blog support"
    corpus = generate_corpus(spark, 8, seed=41, giant_frac=0.0)
    corpus = corpus.withColumn(
        "spans",
        F.concat(
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.lit(f"<p>{nav}</p>").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ),
            "spans",
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.lit(f"<p>{nav}</p>").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(99).alias("offset"),
                )
            ),
        ),
    )
    corpus.write.parquet(in_path)
    run_stream_pipeline(spark, in_path, out_path, ckpt,
                        min_quality=0.0, text_join="newline",
                        line_dedup=True)
    texts = [r.text for r in spark.read.parquet(out_path).collect()]
    assert texts
    assert all(t.count(nav) == 1 for t in texts)

    with pytest.raises(ValueError, match="newline"):
        run_stream_pipeline(spark, in_path, str(tmp_path / "o2"),
                            str(tmp_path / "c2"), line_dedup=True)


def test_stream_pipeline_clean_controls(spark, tmp_path):
    """Streaming hygiene parity: control/zero-width chars scrubbed in
    the sink output (same projection as batch clean_controls)."""
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    marker = "zz\u200bqq\u00a0ww\x07ee"  # ZWSP + NBSP + BEL
    corpus = generate_corpus(spark, 10, seed=41, giant_frac=0.0)
    corpus = corpus.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(
                    s["kind"] == "text",
                    F.concat(s["text"], F.lit(" " + marker)),
                ).otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    corpus.write.parquet(in_path)
    run_stream_pipeline(spark, in_path, out_path, ckpt,
                        min_quality=0.0, clean_controls=True)
    texts = [r.text for r in spark.read.parquet(out_path).collect()]
    assert texts
    assert any("zzqq ww" in t and "wwee" in t for t in texts)
    assert all("\u200b" not in t and "\x07" not in t for t in texts)


def test_stream_pipeline_matches_batch_pipeline(spark, tmp_path):
    """Batch <-> stream parity: over one corpus, with every option the
    two pipelines share switched on, the streaming sink holds the same
    (doc_id, text) rows as build_training_pipeline. The corpus plants
    an exact duplicate, a repeated nav line, mojibake, a decomposed
    accent, control characters, an email, a blocklisted word and a
    benchmark overlap, so every shared stage changes or drops rows."""
    import random

    from html_to_document_spark.operators.dedup import minhash_lsh_pairs
    from html_to_document_spark.plans.pipeline import build_training_pipeline
    from html_to_document_spark.streaming.stateful import run_stream_pipeline

    rng = random.Random(7)
    stop = ["the", "and", "of", "to", "is", "that", "with", "we"]

    def body():
        words = [
            rng.choice(stop) if i % 3 == 0 else "".join(
                rng.choice("abcdefghijklmnoprstuvw")
                for _ in range(rng.randint(4, 8))
            )
            for i in range(70)
        ]
        return " ".join(words) + "."

    def span(text, offset):
        return {"kind": "text", "text": f"<p>{text}</p>",
                "media_ref": None, "offset": offset}

    nav = "home products pricing about contact careers blog support"
    extras = [
        "",
        "café résumé".encode("utf-8").decode("cp1252"),
        "A\u030angstro\u0308m",  # decomposed
        "zz\u200bqq\u00a0ww\x07ee",
        "mail admin@host.org today",
        "zorple",
        "",
        "",
    ]
    rows = [
        (f"d{i}", [span(nav, 0), span(body() + " " + extra, 1),
                   span(body(), 2), span(nav, 3)])
        for i, extra in enumerate(extras)
    ]
    rows.append(("e-dup", rows[1][1]))  # exact duplicate of d1
    in_path = str(tmp_path / "in")
    spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).write.parquet(in_path)
    victim = rows[6][1][1]["text"][3:-4].split()[20:40]
    bench = spark.createDataFrame(
        [(999, "unrelated intro. " + " ".join(victim))],
        "doc_id long, text string",
    )
    shared = dict(
        min_quality=0.0, text_join="newline", fix_encoding=True,
        unicode_form="NFC", clean_controls=True, pii_scrub=True,
        line_dedup=True, gopher_filter=True, blocklist=("zorple",),
        entropy_band=(2.0, 6.0), benchmark=bench,
        decontaminate_mode="ngram",
    )

    out_path = str(tmp_path / "out")
    run_stream_pipeline(spark, in_path, out_path, str(tmp_path / "ck"),
                        **shared)
    streamed = spark.read.parquet(out_path).select("doc_id", "text")
    # the stream has no near-dup stage: the batch one must find nothing
    # to remove on this corpus, or the comparison below is not like for
    # like
    assert minhash_lsh_pairs(streamed).count() == 0
    batch = build_training_pipeline(
        spark.read.parquet(in_path), num_partitions=4, **shared
    ).select("doc_id", "text")

    got = {(r.doc_id, r.text) for r in streamed.collect()}
    assert got == {(r.doc_id, r.text) for r in batch.collect()}
    ids = {d for d, _ in got}
    assert ids == {"d0", "d1", "d2", "d3", "d4", "d7"}
    texts = {d: t for d, t in got}
    assert texts["d0"].count(nav) == 1
    assert "café résumé" in texts["d1"] and "Ångström" in texts["d2"]
    assert "zzqq ww" in texts["d3"] and "<EMAIL>" in texts["d4"]
