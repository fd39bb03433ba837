"""Streaming extraction: file-source ingest -> extraction -> sink.

``run_stream`` runs the batch path's mapInArrow extraction stage
(``extract_spans`` — stateless per row, so no watermarks are needed)
over a parquet file stream and wires a ``foreachBatch`` sink with a
checkpoint dir, so each micro-batch also writes lineage rows
(micro-batch id as the commit unit, mirroring the batch job's bucket
commits).

``read_stream`` and ``run_query`` are the one file-source reader and
the one query start/drain every streaming job in this package uses."""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Union

from html_to_document_spark.core.extract import DEFAULT_OPTIONS, ExtractOptions
from html_to_document_spark.operators.extract_spans import extract_spans
from html_to_document_spark.operators.lineage import span_checksum_aggs
from html_to_document_spark.sources.synthetic import DOC_SCHEMA

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def read_stream(
    spark: "SparkSession",
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> "DataFrame":
    """Parquet file stream of ``schema`` rows; ``max_files_per_trigger``
    caps the micro-batch size."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def run_query(
    stream_df: "DataFrame",
    sink: Union[str, Callable],
    checkpoint: str,
    available_now: bool = True,
):
    """Append ``stream_df`` to ``sink`` — a parquet path (the
    exactly-once file sink) or a ``foreachBatch`` callable — with state
    and offsets in ``checkpoint``. With ``available_now`` the query
    drains the input present at start and returns once finished;
    otherwise it returns the running query."""
    writer = (
        stream_df.writeStream.option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    if not available_now:
        return writer.start()
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def make_sink(out_path: str, lineage_path: str | None = None):
    """Idempotent foreachBatch sink (exposed for retry testing)."""
    from pyspark.sql import functions as F

    def sink(batch_df: "DataFrame", batch_id: int) -> None:
        # foreachBatch is at-least-once: a retried micro-batch must
        # REPLACE its own output, not append a second copy (ADVICE r1).
        # Partitioning by batch_id + dynamic partition overwrite makes
        # both the data and lineage writes idempotent per batch_id.
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        if lineage_path:
            (
                batch_df.groupBy(F.lit(int(batch_id)).alias("partition_id"))
                .agg(F.count("*").alias("input_count"), *span_checksum_aggs())
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(lineage_path)
            )

    return sink


def run_stream(
    spark: "SparkSession",
    in_path: str,
    out_path: str,
    checkpoint: str,
    lineage_path: str | None = None,
    options: ExtractOptions = DEFAULT_OPTIONS,
    available_now: bool = True,
):
    """Start (and with available_now=True, drain) the streaming job."""
    return run_query(
        extract_spans(read_stream(spark, in_path, DOC_SCHEMA), options),
        make_sink(out_path, lineage_path),
        checkpoint,
        available_now,
    )
