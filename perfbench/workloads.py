"""The benchmark's workloads: what one timed operation does and how its
output is checked.

Every workload reads its seeded corpus (``inputs.corpus``) from parquet
and calls the library only through its public functions.  Each operation
runs under its own Spark job group (``op<k>``; set-up warm-ups under
``warm<i>``), so a traced run can attribute stages to operations.

An operation ends in one aggregate over the output, computed in the JVM:
the row count, the span count, an order-free hash of the rows, and the
spans of the sampled documents, which are then compared with in-process
``core.extract.extract_document``.  So the checks read the very output
that was timed, and add no Spark job of their own.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

from inputs import CHECK_DOCS, load_docs


@dataclass
class Ctx:
    spark: object
    tracer: object
    manifest: dict
    seed: int
    nproc: int

    def read(self, ids: list[str] | None = None):
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.manifest["path"])
        return df if ids is None else df.filter(F.col("doc_id").isin(ids))

    def group(self, tag: str) -> None:
        self.spark.sparkContext.setJobGroup(tag, tag)


@dataclass
class Workload:
    name: str
    why: str
    n_docs: int
    styled_share: float
    with_giants: bool
    # op(ctx, df, tag) -> summary(); equal on every operation of a run
    op: Callable


def check_ids(manifest: dict) -> list[str]:
    return (manifest["sample_plain"][:CHECK_DOCS] + manifest["sample_styled"]
            + manifest["sample_giant"])


def warm_ids(manifest: dict) -> list[str]:
    """The warm-up sample of a session restart."""
    return manifest["sample_plain"][:100] + manifest["sample_styled"]


def summary(ctx: Ctx, df, *hash_cols) -> dict:
    """One aggregate over an output frame: counts, an order-free digest
    of ``hash_cols``, and the spans of the sampled documents."""
    from pyspark.sql import functions as F

    sampled = F.col("doc_id").isin(check_ids(ctx.manifest))
    # sampled spans travel as JSON: converting a giant page's spans to
    # Python rows would cost the Python driver process seconds inside the
    # timed region
    row = df.agg(
        F.count("*"), F.sum(F.size("spans")), F.bit_xor(F.xxhash64(*hash_cols)),
        F.collect_list(F.when(sampled, F.struct("doc_id", F.to_json("spans")))),
    ).collect()[0]
    return {
        "docs_out": row[0],
        "spans_out": row[1] or 0,
        "fingerprint": row[2],
        # to_json leaves out null fields
        "sample": {doc_id: [(s["kind"], s.get("text"), s.get("media_ref"), s["offset"])
                            for s in json.loads(spans)] for doc_id, spans in row[3]},
    }


def check_sample(manifest: dict, sample: dict, keeps_all_docs: bool) -> list[str]:
    """Sampled spans from Spark against in-process ``extract_document``
    over the same assembled HTML.  ``keeps_all_docs`` is false where the
    program may drop documents (near-duplicate removal)."""
    from html_to_document_spark.core.extract import assemble_html, extract_document

    ids = check_ids(manifest)
    docs = load_docs(manifest, ids)
    errors = []
    if keeps_all_docs and set(sample) != set(ids):
        errors.append(f"sample check: {len(set(ids) - set(sample))} sampled docs missing")
    if not sample:
        errors.append("sample check: no sampled document in the output")
    for doc_id, spans in sample.items():
        want = [tuple(s) for s in extract_document(assemble_html(docs[doc_id]["spans"]))]
        if spans != want:
            errors.append(f"sample check: spans of {doc_id} differ from extract_document")
    return errors


def extract_op(ctx: Ctx, df, tag: str) -> dict:
    from html_to_document_spark.operators.extract_spans import extract_spans_balanced

    ctx.group(tag)
    with ctx.tracer.span("operators.extract_spans.extract_spans_balanced"):
        return summary(ctx, extract_spans_balanced(df, num_partitions=ctx.nproc),
                       "doc_id", "spans")


def plain_op(ctx: Ctx, df, tag: str) -> dict:
    from html_to_document_spark.operators.extract_spans import extract_spans

    ctx.group(tag)
    with ctx.tracer.span("operators.extract_spans.extract_spans"):
        return summary(ctx, extract_spans(df), "doc_id", "spans")


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "extract_interleaved",
            "Headline path: balanced mapInArrow extraction; 1/3 <style> pages, giants "
            "half the bytes. core, operators.extract_spans, plans.job -> wall_s, "
            "docs_per_s, setup_s",
            n_docs=4000, styled_share=1 / 3, with_giants=True, op=extract_op),
        Workload(
            "extract_plain",
            "Contrast: unbalanced extract_spans over plain pages, no <style>, no giants, "
            "so styled walker and giant routing are bypassed. core, "
            "operators.extract_spans -> wall_s, docs_per_s",
            n_docs=6000, styled_share=0.0, with_giants=False, op=plain_op),
    )
}
