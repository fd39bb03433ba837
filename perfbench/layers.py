"""The per-layer metrics of a traced run.

Their names, units and directions are listed in ``BENCHMARK.json``
(``per_layer``); a run that does not produce each of them fails.

Stage metrics of the timed operations are medians over the traced
operations of one run; each operation's stages are found by its job
group (``op<k>``).  The probes' stages are found by theirs
(``lineage:*``, ``pipeline:*``).

Which end-to-end metric each layer should move:

- ``plans.job``: ``setup_s`` on both workloads.  ``session_s`` is the
  first session start, which launches the JVM; ``setup_s`` is the median
  set-up, a restart inside the running JVM plus one operation.
- ``core``: ``wall_s``/``docs_per_s`` on both; the styled and giant
  rates only on ``extract_interleaved`` (``extract_plain`` has neither
  ``<style>`` nor giant pages, so it should stay flat).
- ``operators.extract_spans``: ``wall_s``/``docs_per_s`` on both; the
  separate assembly stage (most of ``jvm_stage_s``) and the giant-page
  straggler (``task_max_s`` against ``task_p50_s``) only on
  ``extract_interleaved``, whose balanced path has them.  ``py_init_s``
  against ``py_run_s`` splits the Python boundary cost from the
  walker's compute.
- ``operators.lineage`` and ``plans.pipeline``: measured by the probes
  only; no workload's end-to-end metric runs them.
"""

from __future__ import annotations

import statistics

from observe import is_arrow, stage_metrics
from probes import N_BUCKETS


def _ops(stages: list[dict], n_ops: int) -> list[list[dict]]:
    """The stages of each timed operation, by job group."""
    return [_group(stages, f"op{k}") for k in range(n_ops)]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _group(stages: list[dict], *groups: str) -> list[dict]:
    return [st for st in stages if st["group"] in groups]


def _span_s(tracer, name: str) -> float:
    return _median(tracer.durations(name))


def per_layer(stages: list[dict], n_ops: int, tracer, lineage: dict,
              pipeline: dict) -> dict:
    """Per-layer metrics of a traced run: ``operators.extract_spans`` from
    the timed operations; ``operators.lineage`` and ``plans.pipeline``
    from the probes (``probes.py``), whose results are passed in."""
    ops = _ops(stages, n_ops)
    out = {}

    arrow = [stage_metrics([s for s in op if is_arrow(s)]) for op in ops]
    whole = [stage_metrics(op) for op in ops]
    x = "operators.extract_spans."
    # stages without Python: the HTML assembly ahead of the balanced
    # path's exchange (the unbalanced path fuses it into the Python
    # stage) and the final aggregate
    out[x + "jvm_stage_s"] = _median(w["run_s"] - a["run_s"] for w, a in zip(whole, arrow))
    out[x + "arrow_stage_s"] = _median(m["run_s"] for m in arrow)
    for key in ("py_init_s", "py_run_s", "task_p50_s", "task_max_s",
                "arrow_in_mb", "arrow_out_mb"):
        out[x + key] = _median(m[key] for m in arrow)
    for key in ("executor_cpu_s", "tasks", "stages", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "failed_tasks"):
        out[x + key] = _median(m[key] for m in whole)

    x = "operators.lineage."
    whole = stage_metrics(_group(stages, "lineage:first", "lineage:resume"))
    resumed = stage_metrics(_group(stages, "lineage:resume"))
    out.update({
        x + "first_pass_s": _span_s(tracer, "operators.lineage.first_pass"),
        x + "resume_s": _span_s(tracer, "operators.lineage.resume"),
        x + "buckets_failed": N_BUCKETS - len(lineage["committed"]),
        x + "buckets_recomputed": len(lineage["processed"]),
        # docs the resume extracted / docs in the buckets it had to redo
        x + "recompute_ratio": resumed["arrow_rows_out"] / max(1, lineage["resume_docs"]),
        x + "files_written": lineage["files_written"],
    })
    for key in ("scan_mb", "output_mb", "executor_cpu_s", "task_max_s"):
        out[x + key] = whole[key]

    x = "plans.pipeline."
    whole = _group(stages, "pipeline:build", "pipeline:exec")
    m = stage_metrics(whole)
    out.update({
        x + "build_s": _span_s(tracer, "plans.pipeline.build"),
        x + "exec_s": _span_s(tracer, "plans.pipeline.exec"),
        x + "map_in_arrow_stages": sum(map(is_arrow, whole)),
        x + "rows_out": pipeline["docs_out"],
    })
    for key in ("stages", "tasks", "shuffle_write_mb", "spill_mb",
                "executor_cpu_s", "task_max_s"):
        out[x + key] = m[key]
    return out
