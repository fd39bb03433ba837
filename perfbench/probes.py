"""Layer probes that a traced run adds after its timed operations.

The benchmark's time budget per run leaves no room for checkpoint-resume
or curation workloads of their own (one operation of either takes 8-12 s
on four cores, and several are needed to read steadily), so a traced run
probes those two layers once, on the ``PROBE_DOCS`` sampled plain
documents of its own corpus, in the traced session:

- ``operators.lineage``: ``run_with_checkpoint`` with one injected bucket
  failure, then the resume call;
- ``plans.pipeline``: ``build_training_pipeline`` with one
  materialization (``materialize="checkpoint"``).

Both are checked: lineage invariants and sampled spans for the first,
sampled spans of the surviving documents for the second.
"""

from __future__ import annotations

import os
import shutil

from workloads import Ctx, check_ids, check_sample, summary

N_BUCKETS = 16
CHUNK_BUCKETS = 8


def _rows(path: str, **kw) -> list[dict]:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet", **kw).to_table().to_pylist()


def lineage(ctx: Ctx, work_dir: str) -> dict:
    """First pass with a failing bucket, then resume; returns what the
    per-layer metrics need, with ``errors`` from the checks."""
    from html_to_document_spark.operators.lineage import run_with_checkpoint

    root = os.path.join(work_dir, "lineage-probe")
    out, lin = os.path.join(root, "out"), os.path.join(root, "lineage")
    shutil.rmtree(root, ignore_errors=True)
    ids = ctx.manifest["sample_plain"]
    df = ctx.read(ids)
    # a bucket of the second chunk: the first chunk commits, the second fails
    fail = CHUNK_BUCKETS + ctx.seed % CHUNK_BUCKETS
    errors = []

    ctx.group("lineage:first")
    with ctx.tracer.span("operators.lineage.first_pass"):
        try:
            run_with_checkpoint(ctx.spark, df, out, lin, n_buckets=N_BUCKETS,
                                chunk_buckets=CHUNK_BUCKETS, fail_buckets={fail})
            errors.append("lineage probe: first pass ignored the injected failure")
        except Exception as e:  # the injected failure surfaces as a Spark job error
            if "injected failure" not in str(e):
                raise
    committed = sorted({r["partition_id"] for r in _rows(lin)})
    uncommitted = sorted(set(range(N_BUCKETS)) - set(committed))

    ctx.group("lineage:resume")
    with ctx.tracer.span("operators.lineage.resume"):
        processed = sorted(run_with_checkpoint(ctx.spark, df, out, lin,
                                               n_buckets=N_BUCKETS,
                                               chunk_buckets=CHUNK_BUCKETS))

    if committed != list(range(CHUNK_BUCKETS)) or processed != uncommitted:
        errors.append(f"lineage probe: resume recomputed {processed} "
                      f"with {committed} committed")
    docs = _rows(out, partitioning="hive")
    if len(docs) != len(ids):
        errors.append(f"lineage probe: {len(docs)} output rows for {len(ids)} docs")
    per_bucket: dict[int, list[int]] = {}
    for d in docs:
        b = per_bucket.setdefault(d["partition_id"], [0, 0])
        b[0] += 1
        b[1] += len(d["spans"])
    rows = _rows(lin)
    if sorted(r["partition_id"] for r in rows) != list(range(N_BUCKETS)):
        errors.append("lineage probe: lineage does not hold one row per bucket")
    for r in rows:
        # output_count counts spans (lineage_of sums size(spans)); the
        # bucket's document count is checked against input_count
        if [r["input_count"], r["output_count"]] != per_bucket.get(r["partition_id"]):
            errors.append(f"lineage probe: lineage row of bucket "
                          f"{r['partition_id']} disagrees with the output")
    checked = set(check_ids(ctx.manifest))
    sample = {d["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                            for s in d["spans"]]
              for d in docs if d["doc_id"] in checked}
    errors += check_sample(ctx.manifest, sample, keeps_all_docs=False)
    return {
        "committed": committed,
        "processed": processed,
        "resume_docs": sum(r["input_count"] for r in rows
                           if r["partition_id"] in uncommitted),
        "files_written": sum(len(f) for _, _, f in os.walk(root)),
        "errors": errors,
    }


def pipeline(ctx: Ctx) -> dict:
    from html_to_document_spark.plans.pipeline import build_training_pipeline

    ctx.group("pipeline:build")
    with ctx.tracer.span("plans.pipeline.build"):
        out = build_training_pipeline(ctx.read(ctx.manifest["sample_plain"]),
                                      num_partitions=ctx.nproc,
                                      materialize="checkpoint", min_quality=0.0)
    ctx.group("pipeline:exec")
    with ctx.tracer.span("plans.pipeline.exec"):
        result = summary(ctx, out, "doc_id", "text", "lang_pred", "spans")
    # near-duplicate removal may drop sampled documents; survivors must match
    result["errors"] = check_sample(ctx.manifest, result["sample"], keeps_all_docs=False)
    return result
