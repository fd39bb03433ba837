"""Job builder + spark-submit entrypoint.

Cluster launch (north_rule):
    python -m zipfile -c h2d.zip html_to_document_spark/
    spark-submit --py-files h2d.zip \
        html_to_document_spark/plans/job.py \
        --input <iceberg-or-parquet> --output <path> --lineage <path> \
        --buckets 4096 --chunk-buckets 64

Session tuning rationale (100 TB design):
- AQE on: post-shuffle coalescing + skew-join splitting for the
  relational operators
- arrow.maxRecordsPerBatch = 4096: measured sweet spot — 512-row
  batches made the JVM<->Python handoff latency-bound at 32 cores
  (2-3x wall); tune DOWN only for corpora of multi-MB average docs
- shuffle.partitions sized to cores locally; on a real cluster set
  ~2-3x total cores (or rely on AQE coalescing from a high initial)
- Python workers fork from ``html_to_document_spark.worker_daemon``
  (``WORKER_DAEMON_CONF``): Spark's ``pyspark.zip`` holds source only,
  so the stock daemon compiles pyspark on every session start; the
  daemon imports the installed copy when it is the same release,
  pre-imports pandas, pyarrow and the extraction modules before the
  fork, and re-runs ``importlib.invalidate_caches`` only when the worker
  path changed. Named only when the workers can import the package
  (working directory, PYTHONPATH or site-packages)
"""

from __future__ import annotations

import argparse
import os
import re
import site
import time

from html_to_document_spark.core.extract import ExtractOptions
from html_to_document_spark.operators.lineage import run_with_checkpoint
from html_to_document_spark.sources.synthetic import generate_corpus

WORKER_DAEMON_CONF = {
    "spark.python.daemon.module": "html_to_document_spark.worker_daemon",
}


def _workers_import_package() -> bool:
    """True when the worker daemon can import this package: local Python
    workers start in the driver's working directory with the JVM's
    environment, so a package the driver reaches only through its own
    ``sys.path`` (``sys.path.insert``, a ``--py-files`` zip) is not
    importable before the first task adds the includes."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    paths = [os.getcwd(), *site.getsitepackages(),
             *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.path.isdir(root) and any(
        p and os.path.realpath(p) == os.path.realpath(root) for p in paths)


def _initial_heap(driver_memory: str) -> str:
    """``-Xms`` for a driver heap of ``driver_memory`` (a Spark size
    string; no unit means MiB): 4g, or the whole heap when it is
    smaller, because a JVM whose initial heap exceeds ``-Xmx`` exits."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", str(driver_memory).strip().lower())
    if m is None:
        raise ValueError(f"spark.driver.memory {driver_memory!r} is not a size")
    mib = int(m.group(1)) * {"k": 1, "m": 1024, "g": 1024 ** 2,
                             "t": 1024 ** 3}[m.group(2) or "m"] // 1024
    return "4g" if mib >= 4096 else f"{mib}m"


def build_session(
    cpus: int | str = "*",
    app: str = "h2d-extract",
    shuffle_partitions: int | None = None,
    arrow_batch: int = 4096,
    extra_conf: dict | None = None,
):
    from pyspark.sql import SparkSession

    # local mode: one JVM hosts driver + all task threads; size the
    # heap for 32 concurrent Arrow-batching tasks over large docs
    memory = (extra_conf or {}).get("spark.driver.memory", "16g")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.driver.memory", memory)
        # ParallelGC + pre-touch: G1 treats multi-MB document strings as
        # humongous allocations; page-fault zeroing showed up as kernel
        # time under 32-way load
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch "
                f"-Xms{_initial_heap(memory)}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or (cpus if isinstance(cpus, int) else 32)))
        .config("spark.ui.enabled", "false")
    )
    if _workers_import_package():
        b = b.config(map=WORKER_DAEMON_CONF)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def main() -> None:
    p = argparse.ArgumentParser(description="distributed HTML span extraction")
    p.add_argument("--input", help="input docs table (parquet dir); if absent, --synthesize N generates the corpus")
    p.add_argument("--synthesize", type=int, default=0)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--chunk-buckets", type=int, default=32)
    p.add_argument("--stage", default=None,
                   help="stage dir: write the input bucketed by "
                        "partition_id once so each chunk reads only its "
                        "own files (required shape at large scale)")
    p.add_argument("--cpus", default="*")
    p.add_argument("--boilerplate-max-link-density", type=float, default=None)
    args = p.parse_args()

    cpus = int(args.cpus) if args.cpus != "*" else "*"
    spark = build_session(cpus=cpus)
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = generate_corpus(spark, args.synthesize or 10_000)

    opts = ExtractOptions(
        boilerplate_max_link_density=args.boilerplate_max_link_density
    )
    t0 = time.time()
    processed = run_with_checkpoint(
        spark,
        docs,
        args.output,
        args.lineage,
        options=opts,
        n_buckets=args.buckets,
        chunk_buckets=args.chunk_buckets,
        stage_path=args.stage,
    )
    dt = time.time() - t0
    n = spark.read.parquet(args.output).count()
    print(
        f"processed buckets={len(processed)} docs={n} "
        f"wall={dt:.1f}s throughput={n / dt:.1f} docs/sec"
    )


if __name__ == "__main__":
    main()
