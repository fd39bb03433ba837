#!/usr/bin/env python3
"""Benchmark of the HTML -> span extraction engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_interleaved --seed 1 \\
        --seconds 10 --trace 0

One run generates the workload's corpus from ``--seed`` (cached per seed
under ``.perfbench/``), then sets up three times: each set-up starts a
Spark session as ``local[nproc]`` through ``plans.job.build_session``
and runs the workload's operation once as warm-up.  The first set-up
launches the JVM and warms up on the whole corpus; the others restart
the session inside it and warm up on a sample of the corpus.  It then repeats the operation for ``--seconds``
seconds and checks the outputs.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

- ``--trace 0`` reports the end-to-end metrics: ``setup_s`` (median of
  the three set-ups), ``wall_s`` (median time of one operation),
  ``docs_per_s`` (input documents / ``wall_s``) and ``peak_rss_mb``
  (process tree: Python driver, JVM, Python workers).
- ``--trace 1`` reports the per-layer metrics.  It runs half of the time
  untraced, then restarts the session with a Spark event log and runs
  the other half with every operation in its own job group, followed by
  the lineage and pipeline probes (``probes.py``) and the single-thread
  ``core`` probe (``core_probe.py``).  Stage metrics come from the event
  log; ``trace.overhead_s`` is the traced minus the untraced median
  operation time.

Either kind of run writes its spans to
``.perfbench/spans-<workload>-<seed>-<e2e|trace>.json``; the report lines
before the JSON also give the share of CPU time the hypervisor stole
during the run, which explains runs that read slow.

Outputs are checked on every run: every operation of a run must give the
same result, sampled documents (plain, ``<style>`` and giant pages) must
match in-process ``core.extract.extract_document``, the probes check
their own invariants, and on the default seed the results must equal the
values pinned in ``expected.json``.  A failed check makes ``correct``
false and the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEFAULT_SEED = 1
SETUPS = 3
DRIVER_MEMORY = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Make the launched JVM and its Python workers import this checkout
    and keep every scratch file inside it.  Must run before the first
    session starts: the JVM and the workers inherit this environment."""
    for d in ("spark-local", "tmp", "events", "cache"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")


def start_session(event_log: bool):
    from html_to_document_spark.plans.job import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(cpus=nproc(), app="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _digest(result: dict) -> dict:
    return {k: v for k, v in result.items() if k != "sample"}


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        from observe import Tracer
        from workloads import Ctx

        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(f"{workload.name}-{seed}-{'trace' if trace else 'e2e'}")
        self.ctx = Ctx(None, self.tracer, {}, seed, nproc())
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- session set-up -------------------------------------------------
    def setup(self, i: int, event_log: bool = False) -> None:
        from workloads import warm_ids

        if self.ctx.spark is not None:
            self.ctx.spark.stop()
        with self.tracer.span("setup", index=i, event_log=event_log):
            with self.tracer.span("plans.job.build_session"):
                self.ctx.spark = start_session(event_log)
            with self.tracer.span("warmup"):
                # the first set-up runs the full operation, which compiles
                # its code paths in the JVM for good; a restart keeps them
                ids = None if i == 0 else warm_ids(self.ctx.manifest)
                self.w.op(self.ctx, self.ctx.read(ids), f"warm{i}")

    # -- timed region ---------------------------------------------------
    def loop(self, seconds: float, phase: str) -> tuple[list[float], list[dict]]:
        walls, results = [], []
        self.tracer.phase = phase
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            k = len(walls)
            self.attempted += 1
            try:
                with self.tracer.span("op", k=k) as s:
                    results.append(self.w.op(self.ctx, self.ctx.read(), f"op{k}"))
            except Exception:
                self.failed += 1
                self.errors.append(f"{phase} op{k} raised:\n{traceback.format_exc()}")
                break
            walls.append(s["end"] - s["start"])
            if results[-1] != results[0]:
                self.failed += 1
                self.errors.append(f"{phase} op{k} output differs from op0: "
                                   f"{_digest(results[-1])} != {_digest(results[0])}")
        self.tracer.phase = None
        return walls, results

    def check(self, results: list[dict]) -> None:
        from workloads import check_sample

        if not results:
            return
        with self.tracer.span("check"):
            self.errors += check_sample(self.ctx.manifest, results[0]["sample"],
                                        keeps_all_docs=True)
        if self.seed != DEFAULT_SEED:
            return
        observed = {"input_sha256": self.ctx.manifest["sha256"], **_digest(results[0])}
        with open(os.path.join(HERE, "expected.json")) as f:
            pinned = json.load(f).get(self.w.name)
        if pinned != observed:
            self.errors.append(f"pinned values differ: expected {pinned}, got {observed}")

    # -- the two kinds of run ---------------------------------------------
    def end_to_end(self) -> dict:
        for i in range(SETUPS):
            self.setup(i)
        walls, results = self.loop(self.seconds, "e2e")
        self.check(results)
        print("# op walls (s): " + " ".join(f"{x:.3f}" for x in walls))
        print("# setups (s): " + " ".join(f"{x:.3f}" for x in self.tracer.durations("setup")))
        wall = statistics.median(walls)
        return {
            "setup_s": statistics.median(self.tracer.durations("setup")),
            "wall_s": wall,
            "docs_per_s": self.ctx.manifest["input_docs"] / wall,
        }

    def traced(self) -> dict:
        import core_probe
        import layers
        import probes
        from observe import event_log_file, read_event_log

        for i in range(SETUPS):
            self.setup(i)
        plain_walls, _ = self.loop(self.seconds / 2, "untraced")
        self.setup(SETUPS, event_log=True)
        app_id = self.ctx.spark.sparkContext.applicationId
        walls, results = self.loop(self.seconds / 2, "traced")
        self.check(results)
        lineage = probes.lineage(self.ctx, WORK)
        pipeline = probes.pipeline(self.ctx)
        self.errors += lineage.pop("errors") + pipeline.pop("errors")
        self.ctx.spark.stop()
        self.ctx.spark = None
        stages = read_event_log(event_log_file(os.path.join(WORK, "events"), app_id))
        with self.tracer.span("core_probe"):
            metrics = core_probe.probe(self.ctx.manifest, self.seed)
        metrics.update(layers.per_layer(stages, len(walls), self.tracer,
                                        lineage, pipeline))
        # the cold start: later set-ups reuse the running JVM
        metrics["plans.job.session_s"] = self.tracer.durations("plans.job.build_session")[0]
        metrics["trace.overhead_s"] = (statistics.median(walls)
                                       - statistics.median(plain_walls))
        return metrics


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "html_to_document_spark")):
        print("perfbench: html_to_document_spark/ not found beside perfbench/; "
              "run this from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from inputs import corpus
    from observe import RssSampler, cpu_ticks
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    prepare_environment()
    run = Run(w, args.seed, args.seconds, bool(args.trace))
    with run.tracer.span("inputs"):
        manifest = corpus(os.path.join(WORK, "cache"), w.name, args.seed, w.n_docs,
                          w.styled_share, w.with_giants, n_files=nproc())
    run.ctx.manifest = manifest
    rss = RssSampler()
    rss.start()
    steal0, total0 = cpu_ticks()
    try:
        metrics = run.traced() if args.trace else run.end_to_end()
    except Exception:
        run.errors.append(traceback.format_exc())
        metrics = {}
    finally:
        if run.ctx.spark is not None:
            run.ctx.spark.stop()
        shutdown_jvm()
        peak = rss.stop()
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
        run.tracer.write(os.path.join(WORK, f"spans-{run.tracer.run_id}.json"))
    if not args.trace:
        metrics["peak_rss_mb"] = peak

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = json.load(f)["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        run.errors.append(f"metrics not produced: {missing}")
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)

    steal1, total1 = cpu_ticks()
    print(f"# {w.name} seed={args.seed} docs={manifest['input_docs']} "
          f"input_mb={manifest['input_mb']:.3f} sha256={manifest['sha256'][:16]} "
          f"ops={run.attempted} failed_frac={run.failed / max(1, run.attempted):.3f} "
          f"cpu_steal={(steal1 - steal0) / max(1, total1 - total0):.3f}")
    for m in names:
        if m["name"] in metrics:
            print(f"#   {m['name']:<44} {metrics[m['name']]:>14.4f} {m['unit']}")
    correct = not run.errors
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in names if m["name"] in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
