"""Checkpoint/resume integration: kill mid-run -> re-run -> only the
missing buckets recompute; lineage + output end complete and exact
(north_rule resumability requirement)."""

import pytest
from pyspark.sql import functions as F

from html_to_document_spark.operators.extract_spans import extract_spans
from html_to_document_spark.operators.lineage import (
    completed_buckets,
    lineage_of,
    run_with_checkpoint,
    with_bucket_id,
)
from html_to_document_spark.sources.synthetic import generate_corpus

N_DOCS = 120
N_BUCKETS = 8


def test_kill_then_resume(spark, tmp_path):
    out_path = str(tmp_path / "spans")
    lineage_path = str(tmp_path / "lineage")
    corpus = generate_corpus(spark, N_DOCS, seed=3, giant_frac=0.0)

    # run 1: fail when the second chunk (buckets 4..7) is processed
    with pytest.raises(Exception, match="injected failure"):
        run_with_checkpoint(
            spark,
            corpus,
            out_path,
            lineage_path,
            n_buckets=N_BUCKETS,
            chunk_buckets=4,
            fail_buckets={5},
        )

    done_after_crash = completed_buckets(spark, lineage_path)
    assert done_after_crash == {0, 1, 2, 3}

    # run 2: resume; only the missing buckets are recomputed
    processed = run_with_checkpoint(
        spark,
        corpus,
        out_path,
        lineage_path,
        n_buckets=N_BUCKETS,
        chunk_buckets=4,
    )
    assert sorted(processed) == [4, 5, 6, 7]

    # final output is complete and matches a clean one-shot run
    final = spark.read.parquet(out_path)
    assert final.select("doc_id").distinct().count() == N_DOCS
    clean = extract_spans(corpus)
    diff = (
        final.select("doc_id", F.to_json("spans").alias("j"))
        .exceptAll(clean.select("doc_id", F.to_json("spans").alias("j")))
        .count()
    )
    assert diff == 0

    # lineage is complete, one row per bucket, checksums consistent
    lineage = spark.read.parquet(lineage_path)
    assert lineage.count() == N_BUCKETS
    assert lineage.agg(F.sum("input_count")).first()[0] == N_DOCS
    recomputed = lineage_of(
        with_bucket_id(corpus.select("doc_id"), N_BUCKETS),
        with_bucket_id(clean, N_BUCKETS),
    )
    got = {r.partition_id: (r.input_count, r.output_count, r.checksum)
           for r in lineage.collect()}
    want = {r.partition_id: (r.input_count, r.output_count, r.checksum)
            for r in recomputed.collect()}
    assert got == want


def test_checkpointed_run_extracts_each_doc_once(spark, tmp_path):
    """A clean checkpointed run runs the extraction UDF once per input
    doc: lineage is computed from the committed output, not by
    re-running the extraction."""
    from html_to_document_spark.operators import extract_spans as ES

    corpus = generate_corpus(spark, N_DOCS, seed=3, giant_frac=0.0)
    n_docs = corpus.count()
    acc = spark.sparkContext.accumulator(0)
    ES._ROWS_PROCESSED_ACCUMULATOR = acc
    try:
        processed = run_with_checkpoint(
            spark, corpus, str(tmp_path / "spans"), str(tmp_path / "lineage"),
            n_buckets=N_BUCKETS, chunk_buckets=4,
        )
    finally:
        ES._ROWS_PROCESSED_ACCUMULATOR = None
    assert sorted(processed) == list(range(N_BUCKETS))
    assert acc.value == n_docs


def test_rerun_is_noop(spark, tmp_path):
    out_path = str(tmp_path / "spans")
    lineage_path = str(tmp_path / "lineage")
    corpus = generate_corpus(spark, 30, seed=4, giant_frac=0.0)
    first = run_with_checkpoint(
        spark, corpus, out_path, lineage_path, n_buckets=4, chunk_buckets=4
    )
    assert sorted(first) == [0, 1, 2, 3]
    again = run_with_checkpoint(
        spark, corpus, out_path, lineage_path, n_buckets=4, chunk_buckets=4
    )
    assert again == []


def test_staged_resume_prunes_scans(spark, tmp_path):
    """VERDICT r1 #4: with stage_path, the input is bucketed on disk
    once and each chunk reads ONLY its own partition directories —
    no full-input rescan per chunk."""
    import os

    out_path = str(tmp_path / "spans")
    lineage_path = str(tmp_path / "lineage")
    stage_path = str(tmp_path / "staged")
    corpus = generate_corpus(spark, N_DOCS, seed=4, giant_frac=0.0)

    with pytest.raises(Exception, match="injected failure"):
        run_with_checkpoint(
            spark, corpus, out_path, lineage_path,
            n_buckets=N_BUCKETS, chunk_buckets=4,
            fail_buckets={6}, stage_path=stage_path,
        )
    assert completed_buckets(spark, lineage_path) == {0, 1, 2, 3}
    # staged layout exists: one dir per bucket
    dirs = {d for d in os.listdir(stage_path) if d.startswith("partition_id=")}
    assert dirs == {f"partition_id={b}" for b in range(N_BUCKETS)}
    stage_mtime = os.path.getmtime(stage_path + "/_STAGED_COMPLETE")

    # a chunk-scoped read lists only that chunk's files (structural
    # pruning, not optimizer-dependent)
    chunk_read = spark.read.option("basePath", stage_path).parquet(
        f"{stage_path}/partition_id=4", f"{stage_path}/partition_id=5"
    )
    files = chunk_read.inputFiles()
    assert files and all(
        "partition_id=4" in f or "partition_id=5" in f for f in files
    )

    processed = run_with_checkpoint(
        spark, corpus, out_path, lineage_path,
        n_buckets=N_BUCKETS, chunk_buckets=4, stage_path=stage_path,
    )
    assert sorted(processed) == [4, 5, 6, 7]
    # the staged input was REUSED on resume, not rewritten
    assert os.path.getmtime(stage_path + "/_STAGED_COMPLETE") == stage_mtime

    # full equality with the direct batch path
    expected = extract_spans(with_bucket_id(corpus, N_BUCKETS))
    got = spark.read.parquet(out_path)
    assert got.count() == N_DOCS
    diff = (
        got.select("doc_id", F.to_json("spans").alias("j"))
        .exceptAll(expected.select("doc_id", F.to_json("spans").alias("j")))
        .count()
    )
    assert diff == 0
