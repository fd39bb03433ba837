"""Custom stateful streaming operator (task brief:
``applyInPandasWithState`` for operators Structured Streaming lacks).

``streaming_exact_dedup``: exact-duplicate suppression over an
unbounded document stream — the streaming counterpart of
``operators.dedup.exact_dedup``. Semantics are ARRIVAL-ORDER (first
occurrence wins; within one micro-batch the min doc_id wins), the
natural contract for a continuously-ingesting crawl pipeline where
"the" keeper cannot be a global min over an unbounded stream.
``streaming_canonical_dedup`` runs the same first-seen operator
(``_first_seen``) keyed by canonical URL instead of text.

Scale shape:
- groups are keyed by the 64-bit ``xxhash64(text)`` digest, so state
  per distinct document is ONE tiny row (the shuffle and the state
  store never carry document text);
- state never expires (``NoTimeout``): dedup state is append-only by
  design — at 10^12 docs, bound the state store by sharding the stream
  on digest ranges or aging out via a TTL variant;
- batch==stream equivalence for single-batch input and cross-batch
  suppression are pytest-gated (tests/test_streaming.py).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from html_to_document_spark.streaming.stream import read_stream, run_query

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

OUT_SCHEMA = "doc_id string, text string"
STATE_SCHEMA = "seen byte"


def _first_seen(
    keyed: "DataFrame", payload: str, out_schema: str
) -> "DataFrame":
    """(digest, doc_id, payload) stream -> the first row per digest
    ever seen (within one micro-batch the min doc_id); state is one
    ``STATE_SCHEMA`` byte per digest."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def first_fn(key, pdf_iter, state):
        if state.exists:
            for _ in pdf_iter:  # drain: this digest was already emitted
                pass
            return
        best = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[pdf["doc_id"].idxmin()]
            if best is None or cand["doc_id"] < best["doc_id"]:
                best = cand
        if best is not None:
            # mark seen ONLY once a representative row actually emitted —
            # an all-empty batch must not suppress later occurrences
            state.update((1,))
            yield pd.DataFrame(
                {"doc_id": [best["doc_id"]], payload: [best[payload]]}
            )

    return keyed.groupBy("digest").applyInPandasWithState(
        first_fn,
        outputStructType=out_schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    stream_df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """(id, text) stream -> first-seen rows only, exactly once per
    distinct text across all micro-batches."""
    from pyspark.sql import functions as F

    keyed = stream_df.select(
        F.xxhash64(F.col(text_col)).alias("digest"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    return _first_seen(keyed, "text", OUT_SCHEMA)


def run_streaming_dedup(
    spark,
    in_path: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
):
    """File-source wiring: drain available input through the stateful
    dedup into parquet (append sink; state lives in the checkpoint)."""
    stream = read_stream(
        spark, in_path, "doc_id string, text string", max_files_per_trigger
    )
    return run_query(streaming_exact_dedup(stream), out_path, checkpoint)


def run_stream_pipeline(
    spark,
    in_path: str,
    out_path: str,
    checkpoint: str,
    keep_langs: tuple = ("en", "es", "fr", "de"),
    min_quality: float = 0.0,
    max_files_per_trigger: int | None = None,
    pii_scrub: bool = False,
    benchmark=None,
    decontaminate_mode: str = "paragraph",
    gopher_filter: bool = False,
    blocklist: tuple | None = None,
    blocklist_max_fraction: float = 0.0,
    entropy_band: "tuple[float, float] | None" = None,
    lm_model: dict | None = None,
    lm_max_ppl: float | None = None,
    fix_encoding: bool = False,
    unicode_form: str | None = None,
    clean_controls: bool = False,
    text_join: str = "space",
    line_dedup: bool = False,
):
    """Streaming counterpart of plans.build_training_pipeline:
    continuous ingest -> span extraction -> the batch pipeline's own
    per-document chain (``plans.pipeline.curate_documents``: text
    assembly, hygiene projections, lang/quality, rule filters; the
    stream exposes its per-row options) -> STATEFUL exact dedup (first
    occurrence wins across micro-batches) -> (optional test-set
    decontamination, ``corpus_hygiene.decontaminator`` applied to each
    micro-batch in ``foreachBatch`` against the stream-static
    benchmark, after exact dedup as in the batch pipeline; "fuzzy"
    streams too, because its band join is asymmetric and the stream
    never self-joins) -> parquet
    sink. Near-dup LSH stays a periodic batch job over the accumulated
    output (its self-joins don't stream); this covers the always-on
    part of the ingestion path. The decontaminating sink's parquet
    append is at-least-once on trigger retries (vs the file sink's
    exactly-once) — acceptable for an idempotent downstream
    exact-dedup."""
    from html_to_document_spark.operators.corpus_hygiene import (
        decontaminator,
    )
    from html_to_document_spark.operators.extract_spans import extract_spans
    from html_to_document_spark.plans.pipeline import curate_documents
    from html_to_document_spark.sources.synthetic import DOC_SCHEMA

    sink = out_path
    if benchmark is not None:
        drop_contaminated = decontaminator(decontaminate_mode, benchmark)

        def sink(batch_df, _batch_id):
            drop_contaminated(batch_df).write.mode("append").parquet(out_path)

    corpus = curate_documents(
        extract_spans(
            read_stream(spark, in_path, DOC_SCHEMA, max_files_per_trigger)
        ),
        keep_langs=keep_langs,
        min_quality=min_quality,
        text_join=text_join,
        fix_encoding=fix_encoding,
        unicode_form=unicode_form,
        clean_controls=clean_controls,
        pii_scrub=pii_scrub,
        line_dedup=line_dedup,
        gopher_filter=gopher_filter,
        blocklist=blocklist,
        blocklist_max_fraction=blocklist_max_fraction,
        entropy_band=entropy_band,
        lm_model=lm_model,
        lm_max_ppl=lm_max_ppl,
    )
    return run_query(streaming_exact_dedup(corpus), sink, checkpoint)


CAP_OUT_SCHEMA = "doc_id string, url string"
CAP_STATE_SCHEMA = "n_emitted long"


def streaming_domain_cap(
    stream_df: "DataFrame",
    url_col: str = "url",
    id_col: str = "doc_id",
    max_docs: int = 10_000,
) -> "DataFrame":
    """Per-domain share capping over an unbounded crawl stream — the
    streaming counterpart of ``url_filter.cap_domain_share``: each
    host emits its first ``max_docs`` documents and suppresses the
    rest forever. Semantics are ARRIVAL-ORDER (the batch operator's
    min_id selector has no meaning over an unbounded stream; within
    one micro-batch ties break by smallest doc_id for determinism),
    matching ``streaming_exact_dedup``'s contract.

    Scale shape: groups key on the HOST (state = one long per
    distinct host — the state store never carries URLs or payloads);
    rows with a NULL/unparsable host are never capped and bypass the
    stateful operator entirely via a union (they would otherwise pool
    into one spurious state group). A single ultra-hot host's
    micro-batch slice concentrates in one state task — cap the
    micro-batch size (maxFilesPerTrigger / maxOffsetsPerTrigger) to
    bound that task, the standard knob for hot-key streaming state."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from html_to_document_spark.operators.url_filter import host_col

    base = stream_df.select(
        host_col(url_col).alias("host"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(url_col).alias("url"),
    )
    no_host = (F.col("host").isNull()) | (F.col("host") == "")
    passthrough = base.filter(no_host).select("doc_id", "url")
    keyed = base.filter(~no_host)

    def cap_fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        budget = max_docs - n
        if budget <= 0:
            for _ in pdf_iter:  # drain: host already at cap
                pass
            return
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            return
        batch = pd.concat(chunks).sort_values("doc_id", kind="mergesort")
        take = batch.head(budget)
        state.update((n + len(take),))
        yield take[["doc_id", "url"]]

    return keyed.groupBy("host").applyInPandasWithState(
        cap_fn,
        outputStructType=CAP_OUT_SCHEMA,
        stateStructType=CAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ).unionByName(passthrough)


def run_streaming_domain_cap(
    spark,
    in_path: str,
    out_path: str,
    checkpoint: str,
    max_docs: int = 10_000,
    max_files_per_trigger: int | None = None,
):
    """File-source wiring for :func:`streaming_domain_cap` (append
    parquet sink; host counters live in the checkpoint's state store)."""
    stream = read_stream(
        spark, in_path, "doc_id string, url string", max_files_per_trigger
    )
    return run_query(
        streaming_domain_cap(stream, max_docs=max_docs), out_path, checkpoint
    )


def run_streaming_near_dedup(
    spark,
    in_path: str,
    out_path: str,
    checkpoint: str,
    sig_path: str,
    *,
    schema: str = "doc_id long, text string",
    threshold: float = 0.85,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_words: "int | None" = 20_000,
    bucket_cap: int = 128,
    roll_forward: bool = True,
    max_files_per_trigger: "int | None" = None,
):
    """Streaming counterpart of ``incremental.incremental_near_dedup``
    — possible precisely BECAUSE that operator is asymmetric: each
    micro-batch band-joins the STANDING signature table at
    ``sig_path`` (bootstrap it with
    ``minhash_signature(history).write.parquet(sig_path)``), never
    itself, so the self-join that keeps batch LSH out of streams
    (run_stream_pipeline's docstring) never appears. Survivors append
    to ``out_path``; with ``roll_forward`` their signatures append to
    ``sig_path`` so later micro-batches near-dedup against earlier
    ones — the rolling-snapshot pattern with the (id, minhash) table
    (~520 B/doc) as the standing artifact, history text never read.

    Contracts inherited from the batch operator: within ONE
    micro-batch, near-dups with no history match ALL survive (run
    batch LSH periodically over the accumulated output for those);
    matching is signature-estimate only (no exact_verify — history
    text is deliberately not available). foreachBatch parquet appends
    are at-least-once on trigger retries: a re-appended signature row
    is harmless (matching a duplicated history row is still one
    match), and the out_path duplicate is the same idempotent-
    downstream-dedup contract as run_stream_pipeline's sink."""
    from html_to_document_spark.operators.incremental import (
        incremental_near_dedup,
    )

    def _sink(batch_df, _batch_id):
        from pyspark.sql import functions as F

        s = batch_df.sparkSession
        hist_sigs = s.read.parquet(sig_path)
        cache: list = []
        survivors = incremental_near_dedup(
            batch_df,
            None,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            max_words=max_words,
            bucket_cap=bucket_cap,
            history_sigs=hist_sigs,
            persist_sigs=True,
            sig_cache=cache,
        )
        if roll_forward:
            # survivors feeds TWO actions (output write + signature
            # append) — persist it so the dedup lineage runs once per
            # micro-batch, and append roll-forward signatures by
            # semi-joining the already-persisted batch signature
            # frame instead of re-tokenizing survivor text
            # (review r5-cont4)
            survivors = survivors.persist()
            cache.append(survivors)
        survivors.write.mode("append").parquet(out_path)
        if roll_forward:
            sigs_new = cache[0]  # (_id, minhash) of the whole batch
            surv_ids = survivors.select(
                F.col("doc_id").alias("_id")
            ).distinct()
            (
                sigs_new.join(surv_ids, "_id")
                .select(F.col("_id").alias("doc_id"), "minhash")
                .write.mode("append").parquet(sig_path)
            )
        for frame in cache:
            frame.unpersist()

    stream = read_stream(spark, in_path, schema, max_files_per_trigger)
    return run_query(stream, _sink, checkpoint)


CANON_OUT_SCHEMA = "doc_id string, url string"


def streaming_canonical_dedup(
    stream_df: "DataFrame",
    url_col: str = "url",
    html_col: str = "html",
    id_col: str = "doc_id",
    respect_noindex: bool = True,
) -> "DataFrame":
    """Canonical-URL mirror collapse over an unbounded crawl stream —
    the streaming counterpart of ``html_head.canonical_dedup``: each
    canonical key (the page's declared ``rel=canonical``, normalized,
    else its own normalized URL) emits its first document and
    suppresses every later mirror forever. Arrival-order semantics
    (within one micro-batch the min doc_id wins), the
    ``streaming_exact_dedup`` contract. ``respect_noindex`` also
    drops robots-noindex pages — a stateless projection folded into
    the same pass.

    Scale shape: groups key on the 64-bit digest of the canonical
    key, so state per distinct page is ONE tiny row (the state store
    never carries URLs or HTML); rows with no derivable key
    (unparsable URL, no canonical) are never deduped and bypass the
    stateful operator via a union — pooling them into the NULL-digest
    group would both dedup them against each other and concentrate
    them in one state task."""
    from pyspark.sql import functions as F

    from html_to_document_spark.operators.html_head import (
        canonical_url_col,
        robots_noindex_col,
    )
    from html_to_document_spark.operators.url_filter import (
        normalize_url_col,
    )

    s = stream_df
    if respect_noindex:
        s = s.filter(~robots_noindex_col(html_col))
    # key NULLness must be tested BEFORE hashing: xxhash64(NULL) is
    # the seed constant, not NULL, and would pool every keyless row
    # into one dedup group
    base = s.select(
        F.coalesce(
            normalize_url_col(canonical_url_col(html_col)),
            normalize_url_col(url_col),
        ).alias("_key"),
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(url_col).alias("url"),
    )
    passthrough = base.filter(F.col("_key").isNull()).select(
        "doc_id", "url"
    )
    keyed = base.filter(F.col("_key").isNotNull()).select(
        F.xxhash64(F.col("_key")).alias("digest"), "doc_id", "url"
    )
    return _first_seen(keyed, "url", CANON_OUT_SCHEMA).unionByName(
        passthrough
    )


def run_streaming_canonical_dedup(
    spark,
    in_path: str,
    out_path: str,
    checkpoint: str,
    respect_noindex: bool = True,
    max_files_per_trigger: int | None = None,
):
    """File-source wiring for ``streaming_canonical_dedup`` (append
    sink; key state lives in the checkpoint)."""
    stream = read_stream(
        spark, in_path, "doc_id string, url string, html string",
        max_files_per_trigger,
    )
    out = streaming_canonical_dedup(stream, respect_noindex=respect_noindex)
    return run_query(out, out_path, checkpoint)
