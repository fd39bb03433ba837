"""End-to-end training pipeline: extraction -> filters -> dedup chain
over synthetic interleaved docs with planted exact and near duplicates."""

from pyspark.sql import functions as F

from html_to_document_spark.plans.pipeline import build_training_pipeline
from html_to_document_spark.sources.synthetic import generate_corpus


def test_pipeline_end_to_end(spark):
    base = generate_corpus(spark, 80, seed=13, giant_frac=0.0)
    # plant exact duplicates (same spans, higher ids)
    dups = base.filter(F.col("doc_id") < "doc-000000000010").select(
        F.concat(F.lit("dup-"), "doc_id").alias("doc_id"), "spans"
    )
    docs = base.unionByName(dups)

    out = build_training_pipeline(
        docs, num_partitions=4, min_quality=0.0, near_dup_threshold=0.95
    ).cache()
    rows = out.collect()

    assert 0 < len(rows) <= 80  # planted dups removed, filters applied
    ids = {r.doc_id for r in rows}
    texts = [r.text for r in rows]
    # exact dups: keeper is the min id ("doc-..." < "dup-...")
    assert not any(i.startswith("dup-") for i in ids)
    assert len(set(texts)) == len(texts)  # no exact duplicates survive
    for r in rows:
        assert r.lang_pred in ("en", "es", "fr", "de")
        assert r.quality >= 0.0
        assert len(r.spans) > 0


def test_pipeline_extracts_each_doc_exactly_once(spark):
    """VERDICT r1 #1 gate, at the execution level (plan strings re-print
    cached children, so string-counting MapInArrow lies): an accumulator
    inside the extraction UDF must equal the input doc count after the
    full composed pipeline runs. Round 1's join-based plan ran the
    extraction subtree ~15x."""
    from html_to_document_spark.operators import extract_spans as ES

    docs = generate_corpus(spark, 100, seed=21, giant_frac=0.0)
    n_docs = docs.count()
    acc = spark.sparkContext.accumulator(0)
    ES._ROWS_PROCESSED_ACCUMULATOR = acc
    try:
        out = build_training_pipeline(
            docs, num_partitions=4, min_quality=0.0
        )
        out.collect()
    finally:
        ES._ROWS_PROCESSED_ACCUMULATOR = None
    assert acc.value == n_docs, (
        f"extraction UDF processed {acc.value} rows for {n_docs} input "
        f"docs — the composed plan recomputes the extraction subtree"
    )


def test_pipeline_plan_has_no_extraction_above_cache(spark):
    """The final query's own stages contain no MapInArrow: extraction
    lives only inside the materialized corpus (InMemoryTableScan leaves).
    simpleString of each node avoids re-printing cached children."""
    docs = generate_corpus(spark, 50, seed=22, giant_frac=0.0)
    out = build_training_pipeline(docs, num_partitions=4, min_quality=0.0)
    out.count()

    # walk the executed plan tree; stop at InMemoryTableScan leaves.
    # AQE wrappers don't expose their plan via children() — unwrap them.
    def walk(node, acc):
        name = node.nodeName()
        acc.append(name)
        if "InMemoryTableScan" in name:
            return
        if name.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan(), acc)
            return
        if "QueryStage" in name:
            walk(node.plan(), acc)
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), acc)

    nodes = []
    walk(out._jdf.queryExecution().executedPlan(), nodes)
    above_cache = [n for n in nodes if "MapInArrow" in n]
    assert not above_cache, f"MapInArrow above the cache: {nodes}"
    assert any("InMemoryTableScan" in n for n in nodes)


def test_pipeline_cluster_mode(spark):
    """near_dup_mode='clusters': transitively-closed removal keeps one
    representative per component and still extracts each doc once."""
    from html_to_document_spark.operators import extract_spans as ES

    base = generate_corpus(spark, 60, seed=17, giant_frac=0.0)
    dups = base.filter(F.col("doc_id") < "doc-000000000008").select(
        F.concat(F.lit("dup-"), "doc_id").alias("doc_id"), "spans"
    )
    docs = base.unionByName(dups)
    acc = spark.sparkContext.accumulator(0)
    ES._ROWS_PROCESSED_ACCUMULATOR = acc
    try:
        out = build_training_pipeline(
            docs, num_partitions=4, min_quality=0.0,
            near_dup_threshold=0.95, near_dup_mode="clusters",
        ).collect()
    finally:
        ES._ROWS_PROCESSED_ACCUMULATOR = None
    ids = {r.doc_id for r in out}
    assert not any(i.startswith("dup-") for i in ids)
    texts = [r.text for r in out]
    assert len(set(texts)) == len(texts)
    assert acc.value == docs.count()


def test_pipeline_simhash_mode(spark):
    """near_dup_mode='simhash': exact planted duplicates (Hamming 0)
    are removed by the sketch pass."""
    base = generate_corpus(spark, 50, seed=19, giant_frac=0.0)
    dups = base.filter(F.col("doc_id") < "doc-000000000006").select(
        F.concat(F.lit("dup-"), "doc_id").alias("doc_id"), "spans"
    )
    out = build_training_pipeline(
        base.unionByName(dups), num_partitions=4, min_quality=0.0,
        near_dup_mode="simhash",
    ).collect()
    ids = {r.doc_id for r in out}
    assert not any(i.startswith("dup-") for i in ids)
    texts = [r.text for r in out]
    assert len(set(texts)) == len(texts)


def test_pipeline_cache_registry_release(spark):
    """Cache-lifetime ownership (ADVICE r2): the registry receives the
    persisted corpus, and release_caches unpersists it. The MinHash
    signature frame is a localCheckpoint whose blocks the
    ContextCleaner owns, so it is not registered."""
    from pyspark import StorageLevel
    from html_to_document_spark.plans.pipeline import (
        build_training_pipeline,
        release_caches,
    )
    from html_to_document_spark.sources.synthetic import generate_corpus

    docs = generate_corpus(spark, 200, seed=7, giant_frac=0.0)
    reg: list = []
    out = build_training_pipeline(docs, cache_registry=reg)
    out.count()
    assert len(reg) == 1  # materialized corpus
    corpus = reg[0]
    assert corpus.storageLevel != StorageLevel.NONE
    frames = list(reg)
    release_caches(reg)
    assert reg == []
    assert corpus.storageLevel == StorageLevel.NONE
    # a second release of an already-released frame must also be a
    # no-op
    release_caches(frames)


def test_pipeline_decontaminate_ngram_mode(spark):
    """decontaminate_mode='ngram' drops a doc whose contamination is
    reflowed (caught only by the sliding 13-gram recipe)."""
    from pyspark.sql import functions as F

    from html_to_document_spark.plans.pipeline import build_training_pipeline
    from html_to_document_spark.sources.synthetic import generate_corpus

    docs = generate_corpus(spark, 60, seed=17, giant_frac=0.0)
    base = build_training_pipeline(docs, min_quality=0.0)
    rows = {r.doc_id: r.text for r in base.collect()}
    victim = sorted(rows)[0]
    words = rows[victim].split()
    assert len(words) >= 13
    reflowed = "intro sentence. " + " ".join(words[:13]) + " trailing bits"
    bench = spark.createDataFrame(
        [(999, reflowed)], "doc_id long, text string"
    )
    # paragraph mode misses the reflowed overlap...
    para = build_training_pipeline(docs, min_quality=0.0, benchmark=bench)
    assert victim in {r.doc_id for r in para.collect()}
    # ...ngram mode catches it
    ng = build_training_pipeline(docs, min_quality=0.0, benchmark=bench,
                                 decontaminate_mode="ngram")
    assert victim not in {r.doc_id for r in ng.collect()}


def test_pipeline_lm_filter_stage(spark):
    """CCNet-style perplexity stage: a model fitted on the synthetic
    corpus's own assembled text keeps normal docs and drops a planted
    gibberish doc; the stage composes with the rest of the pipeline."""
    from html_to_document_spark.operators.lm_filter import (
        fit_ngram_lm,
        perplexity,
    )

    docs = generate_corpus(spark, 40, seed=23, giant_frac=0.0)
    # reference slice = the pipeline's own assembled text (no filters)
    ref = build_training_pipeline(
        docs, num_partitions=4, min_quality=0.0, materialize="none"
    ).select("doc_id", "text")
    model = fit_ngram_lm(ref, min_count=2)

    # plant one gibberish doc: far-from-reference vocabulary
    gib = spark.createDataFrame(
        [("zzz-gibberish",
          [("text", "xqj vfp wkz bnm qqv rrw ssx tty uuz vva", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    ppls = perplexity(ref, model).collect()
    cut = max(r["ppl"] for r in ppls) + 1e-4  # keep every normal doc

    out = build_training_pipeline(
        docs.unionByName(gib), num_partitions=4, min_quality=0.0,
        lm_model=model, lm_max_ppl=cut, materialize="none",
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "zzz-gibberish" not in ids
    assert len(ids) > 0
    # and ppl is not leaked into the output schema
    assert "ppl" not in out.columns


def test_pipeline_fix_encoding_repairs_before_scoring(spark):
    """fix_encoding=True: a mojibaked doc is repaired BEFORE lang/
    quality scoring and before dedup, so it scores (and dedups) like
    its clean twin; the stage is a pure projection — no extra scans."""
    base = generate_corpus(spark, 20, seed=31, giant_frac=0.0)
    # corrupt one doc's text spans the classic way (utf-8 bytes read
    # back as cp1252) by appending a mojibaked marker
    moji = "café crust".encode("utf-8").decode("cp1252")
    corrupted = base.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(
                    s["kind"] == "text",
                    F.concat(s["text"], F.lit(" " + moji)),
                ).otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
    out = build_training_pipeline(
        corrupted, num_partitions=4, min_quality=0.0, fix_encoding=True
    ).collect()
    assert out, "pipeline dropped everything"
    joined = " ".join(r.text for r in out)
    assert "café crust" in joined
    assert "Ã©" not in joined


def test_pipeline_unicode_form_composes_after_repair(spark):
    """unicode_form='NFC' normalizes the assembled text AFTER the
    mojibake repair (ftfy's fix-then-normalize order): a doc that is
    BOTH mojibaked and decomposed comes out repaired and composed."""
    base = generate_corpus(spark, 12, seed=33, giant_frac=0.0)
    moji = "café".encode("utf-8").decode("cp1252")  # composed é, corrupted
    decomp = "A\u030angstro\u0308m"  # decomposed marks, clean encoding
    corrupted = base.select(
        "doc_id",
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
        ).alias("spans"),
    )
    out = build_training_pipeline(
        corrupted, num_partitions=4, min_quality=0.0,
        fix_encoding=True, unicode_form="NFC",
    ).collect()
    assert out, "pipeline dropped everything"
    joined = " ".join(r.text for r in out)
    assert "café" in joined and "Ångström" in joined
    assert "Ã©" not in joined
    assert "́" not in joined and "̊" not in joined


def test_pipeline_quality_keeper(spark):
    """near_dup_keep='quality': the survivor of a near-dup pair is the
    higher-QUALITY member, not the lower id. Planted pair: the junky
    variant (pure-punctuation tokens appended -> lower punct-ratio
    term, same shingle core -> jaccard ~0.93) gets the SMALLER id, so
    min_id and quality modes provably disagree. Covers the pairs and
    clusters paths (simhash shares the pairs helper)."""
    stop = ("the and for that with this from they have was were been "
            "will would there what when your which their").split()
    words = []
    for i, s in enumerate(stop * 2):
        words += [s, f"w{i}"]
    base = " ".join(words)                     # 80 words, half stopwords
    junk = " !!! ??? ;;; %%% $$$ ###"          # punct-only tokens
    docs = spark.createDataFrame(
        [("a-junky", [("text", f"<p>{base}{junk}</p>", None, 0)]),
         ("b-clean", [("text", f"<p>{base}</p>", None, 0)])],
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )

    def run(**kw):
        return {r.doc_id for r in build_training_pipeline(
            docs, num_partitions=2, min_quality=0.0,
            near_dup_threshold=0.85, **kw,
        ).collect()}

    assert run(near_dup_mode="pairs") == {"a-junky"}
    assert run(near_dup_mode="pairs",
               near_dup_keep="quality") == {"b-clean"}
    assert run(near_dup_mode="clusters",
               near_dup_keep="quality") == {"b-clean"}


def test_pipeline_paragraph_dedup(spark):
    """paragraph_dedup='keep_first' rewrites the assembled text before
    scoring: a shared boilerplate paragraph survives only in its first
    (doc_id, position) occurrence; requires newline join."""
    import pytest

    boiler = "subscribe to our newsletter for the weekly updates and offers"
    a_para = "the alpha words are about unique things from here"
    b_para = "the beta words are about other things over there too"
    docs = spark.createDataFrame(
        [
            ("a", [("text", f"<p>{a_para}</p><p>{boiler}</p>", None, 0)]),
            ("b", [("text", f"<p>{boiler}</p><p>{b_para}</p>", None, 0)]),
        ],
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r.doc_id: r.text for r in build_training_pipeline(
        docs, num_partitions=2, min_quality=0.0,
        text_join="newline", paragraph_dedup="keep_first",
    ).collect()}
    assert boiler in out["a"]
    assert boiler not in out["b"] and b_para in out["b"]

    with pytest.raises(ValueError, match="newline"):
        build_training_pipeline(
            docs, num_partitions=2, paragraph_dedup="keep_first"
        )


def test_pipeline_blocklist_and_entropy_stages(spark):
    """blocklist= drops a doc carrying a planted bad word (C4 any-hit
    rule); entropy_band= drops a planted single-char flood; both are
    projections folded into the existing filter stage."""
    from html_to_document_spark.sources.synthetic import generate_corpus

    span_schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    docs = generate_corpus(spark, 30, seed=37, giant_frac=0.0)
    bad = spark.createDataFrame(
        [("zzz-bad",
          [("text", "the words and of that have with zorple here " * 3,
            None, 0)])],
        span_schema,
    )
    # passes lang-ID (en stopwords) and quality, fails the entropy
    # floor (~1.2 bits/char: two symbols dominate the distribution)
    flood = spark.createDataFrame(
        [("zzz-flood", [("text", "the " * 5 + "a " * 200, None, 0)])],
        span_schema,
    )
    planted = docs.unionByName(bad).unionByName(flood)
    base_ids = {
        r["doc_id"]
        for r in build_training_pipeline(
            planted, num_partitions=4, min_quality=0.0,
            materialize="none",
        ).select("doc_id").collect()
    }
    # both planted docs survive the base filters — the assertions
    # below test the NEW stages, not lang/quality fallout
    assert {"zzz-bad", "zzz-flood"} <= base_ids
    out = build_training_pipeline(
        planted, num_partitions=4, min_quality=0.0,
        blocklist=("zorple",), entropy_band=(2.0, 6.0),
        materialize="none",
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "zzz-bad" not in ids
    assert "zzz-flood" not in ids
    assert len(ids) > 0


def test_pipeline_decontaminate_fuzzy_mode(spark):
    """decontaminate_mode='fuzzy' drops a doc that is a near-duplicate
    of a benchmark doc (same shingle SET, different repetition count)
    which both exact modes miss at the document level."""
    from html_to_document_spark.sources.synthetic import generate_corpus

    # stopword-bearing phrase so the planted doc passes lang-ID and
    # the drop below is attributable to fuzzy decontamination alone
    phrase = "the fza and fzb of fzc that fzd have fze"
    contaminated = spark.createDataFrame(
        [("zzz-contaminated",
          [("text", " ".join([phrase] * 6), None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    docs = generate_corpus(spark, 30, seed=41, giant_frac=0.0).unionByName(
        contaminated
    )
    bench = spark.createDataFrame(
        [(999, " ".join([phrase] * 4))], "doc_id long, text string"
    )
    base = build_training_pipeline(
        docs, min_quality=0.0, materialize="none"
    )
    assert "zzz-contaminated" in {
        r["doc_id"] for r in base.select("doc_id").collect()
    }
    out = build_training_pipeline(
        docs, min_quality=0.0, benchmark=bench,
        decontaminate_mode="fuzzy", materialize="none",
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert "zzz-contaminated" not in ids
    assert len(ids) > 0


def test_pipeline_line_dedup_within_doc(spark):
    """line_dedup=True collapses a page's OWN repeated line before
    scoring and before the corpus-level paragraph pass; cross-document
    sharing alone is untouched by it. Requires newline join."""
    import pytest

    nav = "home products pricing about contact careers blog support"
    a_body = "the alpha words are about unique things from here"
    b_body = "the beta words are about other things over there too"
    docs = spark.createDataFrame(
        [
            ("a", [("text",
                    f"<p>{nav}</p><p>{a_body}</p><p>{nav}</p>", None, 0)]),
            ("b", [("text", f"<p>{nav}</p><p>{b_body}</p>", None, 0)]),
        ],
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r.doc_id: r.text for r in build_training_pipeline(
        docs, num_partitions=2, min_quality=0.0,
        text_join="newline", line_dedup=True,
    ).collect()}
    # within-doc repeat gone, one copy kept; cross-doc copy untouched
    assert out["a"].count(nav) == 1 and a_body in out["a"]
    assert out["b"].count(nav) == 1 and b_body in out["b"]

    # composed with the corpus-level pass: b's (now single) nav copy
    # is a later corpus occurrence of a's and is removed by keep_first
    both = {r.doc_id: r.text for r in build_training_pipeline(
        docs, num_partitions=2, min_quality=0.0,
        text_join="newline", line_dedup=True,
        paragraph_dedup="keep_first",
    ).collect()}
    assert both["a"].count(nav) == 1
    assert nav not in both["b"] and b_body in both["b"]

    with pytest.raises(ValueError, match="newline"):
        build_training_pipeline(docs, num_partitions=2, line_dedup=True)


def test_pipeline_host_template(spark):
    """host_template removes per-SITE boilerplate lines (>= min_docs
    distinct docs of the SAME host) before scoring; another host's
    single use of the same line survives. Requires newline join."""
    import pytest

    nav = "home products pricing about contact careers blog support"
    bodies = {
        "a1": "the alpha words describe unique things from over here",
        "a2": "the beta words describe other things from over there",
        "a3": "the gamma words describe further things from nearby",
        "b1": "the delta words describe entirely separate site content",
    }
    rows = []
    for did, body in bodies.items():
        rows.append(
            (did, [("text", f"<p>{nav}</p><p>{body}</p>", None, 0)])
        )
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>",
    )
    hosts = spark.createDataFrame(
        [("a1", "a"), ("a2", "a"), ("a3", "a"), ("b1", "b")],
        "doc_id string, host string",
    )
    out = {r.doc_id: r.text for r in build_training_pipeline(
        docs, num_partitions=2, min_quality=0.0,
        text_join="newline", host_template=hosts,
    ).collect()}
    # nav is a template for host a (3 distinct docs) -> gone there
    for did in ("a1", "a2", "a3"):
        assert nav not in out[did] and bodies[did] in out[did]
    # host b has a single page -> its copy survives
    assert nav in out["b1"] and bodies["b1"] in out["b1"]

    # a doc missing from the host frame passes through untouched even
    # when its own line IS the host's template (min_docs=2: a2+a3
    # still qualify the line without a1's vote)
    hosts_partial = hosts.filter(hosts.doc_id != "a1")
    part = {r.doc_id: r.text for r in build_training_pipeline(
        docs, num_partitions=2, min_quality=0.0,
        text_join="newline", host_template=hosts_partial,
        host_template_min_docs=2,
    ).collect()}
    assert nav in part["a1"]  # NULL host -> untouched
    assert nav not in part["a2"] and nav not in part["a3"]

    with pytest.raises(ValueError, match="newline"):
        build_training_pipeline(
            docs, num_partitions=2, host_template=hosts
        )


def test_pipeline_clean_controls(spark):
    """clean_controls=True scrubs control/zero-width chars from the
    assembled text after the mojibake repair and before scoring."""
    base = generate_corpus(spark, 12, seed=37, giant_frac=0.0)
    marker = "zz\u200bqq\u00a0ww\x07ee"  # ZWSP + NBSP + BEL
    dirty = base.select(
        "doc_id",
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
        ).alias("spans"),
    )
    out = build_training_pipeline(
        dirty, num_partitions=4, min_quality=0.0, clean_controls=True
    ).collect()
    assert out, "pipeline dropped everything"
    joined = " ".join(r.text for r in out)
    assert "zzqq ww" in joined and "zzqq wwee" in joined
    assert "\u200b" not in joined and "\x07" not in joined
    assert "\u00a0" not in joined


def test_pipeline_flesch_band(spark):
    """flesch_band drops docs outside the readability band, as a pure
    projection folded in with the other quality filters."""
    from html_to_document_spark.operators.text_analysis import flesch_col

    docs = generate_corpus(spark, 20, seed=43, giant_frac=0.0)
    base = build_training_pipeline(docs, num_partitions=2, min_quality=0.0)
    scores = {
        r.doc_id: r.fl
        for r in base.select(
            "doc_id", flesch_col(F.col("text")).alias("fl")
        ).collect()
    }
    assert scores, "empty baseline"
    cut = sorted(scores.values())[len(scores) // 2]
    banded = build_training_pipeline(
        docs, num_partitions=2, min_quality=0.0,
        flesch_band=(cut, 10_000.0),
    )
    kept = {r.doc_id for r in banded.collect()}
    want = {d for d, s in scores.items() if s >= cut}
    assert kept == want and 0 < len(kept) < len(scores)


def test_pipeline_soft_dedup_mode(spark):
    """exact_dedup_mode='soft' keeps every exact copy, attaches
    dup_count/soft_weight, and skips near-dup removal (which would
    silently restore hard dedup by anti-joining the kept copies)."""
    from html_to_document_spark.sources.synthetic import generate_corpus

    base = generate_corpus(spark, 40, seed=13, giant_frac=0.0)
    dups = base.filter(F.col("doc_id") < "doc-000000000008").select(
        F.concat(F.lit("dup-"), "doc_id").alias("doc_id"), "spans"
    )
    docs = base.unionByName(dups)

    out = build_training_pipeline(
        docs, num_partitions=4, min_quality=0.0, exact_dedup_mode="soft"
    ).cache()
    rows = out.collect()
    assert {"dup_count", "soft_weight"} <= set(out.columns)
    ids = {r.doc_id for r in rows}
    w = {r.doc_id: (r.dup_count, r.soft_weight) for r in rows}

    dup_ids = [i for i in ids if i.startswith("dup-")]
    assert dup_ids  # the planted copies SURVIVE in soft mode
    for d in dup_ids:
        twin = d[len("dup-"):]
        # a doc and its exact copy share text, hence filters agree
        assert twin in ids
        assert w[d] == (2, 0.5) and w[twin] == (2, 0.5)
    singles = [
        i for i in ids
        if not i.startswith("dup-") and ("dup-" + i) not in ids
    ]
    assert singles and all(w[s] == (1, 1.0) for s in singles)

    # hard mode on the same input removes the copies
    hard = build_training_pipeline(
        docs, num_partitions=4, min_quality=0.0
    )
    assert not any(
        r.doc_id.startswith("dup-") for r in hard.select("doc_id").collect()
    )


def test_pipeline_soft_dedup_rejects_unknown_mode(spark):
    import pytest as _pytest

    from html_to_document_spark.sources.synthetic import generate_corpus

    docs = generate_corpus(spark, 4, seed=3, giant_frac=0.0)
    with _pytest.raises(ValueError, match="exact_dedup_mode"):
        build_training_pipeline(docs, exact_dedup_mode="nope").collect()


def test_pipeline_rejects_bad_enums_before_spark_work(spark):
    """Enum typos raise before any Spark job runs. near_dup_mode used
    to be checked only after minhash_lsh_pairs had checkpointed its
    signatures (5 jobs on a 200-doc corpus)."""
    import pytest

    docs = generate_corpus(spark, 40, seed=3, giant_frac=0.0)
    bench = spark.createDataFrame([(9, "x")], "doc_id long, text string")
    sc = spark.sparkContext
    group = "enum-validation"
    sc.setJobGroup(group, "enum validation")
    try:
        for kw, match in [
            ({"near_dup_mode": "bogus"}, "near_dup_mode"),
            ({"near_dup_mode": "bogus", "materialize": "checkpoint"},
             "near_dup_mode"),
            ({"near_dup_keep": "bogus"}, "near_dup_keep"),
            ({"benchmark": bench, "decontaminate_mode": "bogus"},
             "decontaminate_mode"),
            ({"exact_dedup_mode": "bogus"}, "exact_dedup_mode"),
            ({"text_join": "bogus"}, "text_join"),
        ]:
            with pytest.raises(ValueError, match=match):
                build_training_pipeline(
                    docs, num_partitions=4, min_quality=0.0, **kw
                )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the same values as before are accepted: soft mode never reads the
    # near-dup arguments, and decontaminate_mode is read only with a
    # benchmark
    build_training_pipeline(docs, materialize="none",
                            exact_dedup_mode="soft",
                            near_dup_mode="bogus", near_dup_keep="bogus")
    build_training_pipeline(docs, materialize="none",
                            decontaminate_mode="bogus",
                            near_dup_mode="simhash")
