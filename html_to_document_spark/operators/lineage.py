"""Lineage + checkpoint/resume (SURVEY.md §2.9, north_rule).

Unit of commit = "bucket": ``bucket_id = pmod(xxhash64(doc_id), n_buckets)``
— a deterministic function of row content, NOT ``spark_partition_id()``,
so resume decisions are stable across runs/cluster sizes. Buckets are
processed in chunks; after each chunk's spans land (dynamic partition
overwrite => idempotent re-runs), its lineage rows
``(partition_id, input_count, output_count, checksum)`` are appended.
Resume anti-joins the input against committed lineage and recomputes
only missing buckets.

At 10^12 docs you would raise ``n_buckets`` to O(10^3-10^4) and
``chunk_buckets`` to the cluster's comfortable job size; the driver
loop is over chunks (dozens), never over rows.

checksum = xor-fold of ``xxhash64(doc_id, to_json(spans))`` per bucket:
order-insensitive, so stable under shuffle/AQE re-planning.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from html_to_document_spark.core.extract import DEFAULT_OPTIONS, ExtractOptions
from html_to_document_spark.operators.extract_spans import extract_spans

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

LINEAGE_SCHEMA = (
    "partition_id int, input_count bigint, output_count bigint, checksum string"
)


def with_bucket_id(df: "DataFrame", n_buckets: int) -> "DataFrame":
    from pyspark.sql import functions as F

    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"),
    )


def span_checksum_aggs() -> list:
    """The (output_count, checksum) aggregates of a (doc_id, spans)
    group: its span count and the hex xor-fold of
    ``xxhash64(doc_id, to_json(spans))``."""
    from pyspark.sql import functions as F

    return [
        F.sum(F.size("spans")).alias("output_count"),
        F.conv(
            F.expr("bit_xor(xxhash64(doc_id, to_json(spans)))"), 10, 16
        ).alias("checksum"),
    ]


def lineage_of(in_df: "DataFrame", out_df: "DataFrame") -> "DataFrame":
    """Per-bucket lineage; both frames must carry ``partition_id``."""
    from pyspark.sql import functions as F

    inp = in_df.groupBy("partition_id").agg(
        F.count("*").alias("input_count")
    )
    outp = out_df.groupBy("partition_id").agg(
        F.count("*").alias("doc_out"), *span_checksum_aggs()
    )
    return (
        inp.join(outp, "partition_id", "left")
        .select(
            "partition_id",
            "input_count",
            F.coalesce("output_count", F.lit(0)).alias("output_count"),
            F.coalesce("checksum", F.lit("0")).alias("checksum"),
        )
    )


def completed_buckets(spark: "SparkSession", lineage_path: str) -> set[int]:
    try:
        rows = spark.read.parquet(lineage_path).select("partition_id").collect()
    except Exception:
        return set()
    return {r.partition_id for r in rows}


STAGE_MARKER = "_STAGED_COMPLETE"


def _hadoop_path_exists(spark: "SparkSession", path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _hadoop_touch(spark: "SparkSession", path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(p, True).close()


def run_with_checkpoint(
    spark: "SparkSession",
    input_df: "DataFrame",
    out_path: str,
    lineage_path: str,
    *,
    options: ExtractOptions = DEFAULT_OPTIONS,
    n_buckets: int = 16,
    chunk_buckets: int = 8,
    fail_buckets: set[int] | None = None,
    stage_path: str | None = None,
) -> list[int]:
    """Chunked, resumable extraction run. Returns buckets processed in
    THIS invocation (already-committed buckets are skipped).

    ``stage_path`` (VERDICT r1 #4): without it, every chunk's
    ``filter(partition_id IN chunk)`` re-scans the FULL input —
    n_buckets/chunk_buckets full scans of a 100 TB table. With it, the
    input is written ONCE partitioned by partition_id (itself a resume
    artifact: an existing staged dir is reused, not rewritten), and each
    chunk reads ONLY its own partition directories — scan bytes per
    chunk are chunk-sized by construction, not by optimizer goodwill.

    ``fail_buckets`` injects a task failure (``raise_error``, JVM-side)
    when a chunk containing one of those buckets is processed —
    integration-test hook for the kill -> re-run ->
    only-missing-buckets-recompute scenario.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    df = with_bucket_id(input_df, n_buckets)
    done = completed_buckets(spark, lineage_path)
    todo = sorted(set(range(n_buckets)) - done)
    processed: list[int] = []

    if stage_path is not None and todo:
        # explicit completion marker: the dynamic-partition-overwrite
        # commit protocol does not emit _SUCCESS
        if not _hadoop_path_exists(spark, f"{stage_path}/{STAGE_MARKER}"):
            df.write.mode("overwrite").partitionBy("partition_id").parquet(
                stage_path
            )
            _hadoop_touch(spark, f"{stage_path}/{STAGE_MARKER}")

    for start in range(0, len(todo), chunk_buckets):
        chunk = todo[start : start + chunk_buckets]
        if stage_path is not None:
            # explicit per-partition paths: pruning is structural, and
            # the scan lists only chunk-bucket files
            chunk_df = spark.read.option("basePath", stage_path).parquet(
                *[f"{stage_path}/partition_id={b}" for b in chunk]
            )
        else:
            chunk_df = df.filter(F.col("partition_id").isin(chunk))

        if fail_buckets and set(chunk) & set(fail_buckets):
            # fail in the JVM, ahead of the extraction stage
            chunk_df = chunk_df.filter(
                F.when(
                    F.col("partition_id").isin(sorted(fail_buckets)),
                    F.raise_error(F.lit("injected failure (checkpoint test)")),
                ).otherwise(F.lit(True))
            )

        out = with_bucket_id(extract_spans(chunk_df, options), n_buckets)
        out.write.mode("overwrite").partitionBy("partition_id").parquet(out_path)

        # lineage reads the committed partitions back: recomputing ``out``
        # would run the extraction a second time
        committed = spark.read.parquet(out_path).filter(
            F.col("partition_id").isin(chunk)
        )
        lineage_of(
            chunk_df.select("doc_id", "partition_id"), committed
        ).write.mode("append").parquet(lineage_path)
        processed.extend(chunk)

    return processed
