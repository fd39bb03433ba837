"""Table I/O.

Production target is Iceberg (north_rule); the sandbox has no Iceberg
catalog jars, so reads/writes fall back to a parquet directory layout
with the identical schema. ``spans_format()`` probes once per session.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: "SparkSession") -> bool:
    try:
        return bool(
            spark.conf.get("spark.sql.catalog.spark_catalog", None)
            or spark.conf.get("spark.sql.catalog.local", None)
        )
    except Exception:
        return False


def write_spans(
    df: "DataFrame", target: str, partition_cols: tuple | list | None = None
) -> None:
    """Write an extracted-spans table. ``target`` is an Iceberg table
    name when a catalog is configured, else a parquet directory path.

    ``partition_cols`` (e.g. ``("partition_id",)`` for the resume
    layout): on Iceberg this becomes the table's partition spec so
    chunk predicates prune at the manifest level; on parquet it is the
    directory layout run_with_checkpoint's stage/chunk reads rely on."""
    spark = df.sparkSession
    if _iceberg_available(spark):
        w = df.writeTo(target)
        if partition_cols:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_cols])
        w.createOrReplace()
    else:
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*list(partition_cols))
        w.parquet(target)


def read_spans(spark: "SparkSession", target: str) -> "DataFrame":
    if _iceberg_available(spark):
        return spark.read.format("iceberg").load(target)
    return spark.read.parquet(target)


def export_jsonl(
    df: "DataFrame",
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    meta_cols: tuple | list = (),
    compression: str | None = None,
    num_shards: int | None = None,
) -> None:
    """Write the corpus as JSONL shards — one ``{"id": ..., "text":
    ..., <meta>...}`` object per line, the standard LLM training-data
    delivery format (public corpus releases — Dolma, RedPajama, The
    Pile — all ship JSONL or compressed JSONL shards).

    Pure JVM plan: ``to_json(struct(...))`` + the text sink — zero
    Python, zero extra shuffles (one optional round-robin repartition
    when ``num_shards`` is set: training loaders want a fixed shard
    count with roughly uniform sizes, and the repartition carries the
    already-final rows exactly once). ``compression`` ("gzip",
    "zstd", ...) rides the text writer's codec option; key order in
    the JSON objects is the struct's field order (id, text, then
    ``meta_cols`` in the given order), deterministically."""
    from pyspark.sql import functions as F

    cols = [
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        *[F.col(c) for c in meta_cols],
    ]
    # NULL fields are written as null, not dropped: every line keeps
    # the same keys in the same order
    out = df.select(F.to_json(
        F.struct(*cols), {"ignoreNullFields": "false"}
    ).alias("value"))
    if num_shards is not None:
        out = out.repartition(num_shards)
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_jsonl(
    spark: "SparkSession", path: str, schema: str | None = None
) -> "DataFrame":
    """Read JSONL shards written by :func:`export_jsonl` (or any
    line-delimited JSON corpus). With ``schema`` (DDL string) the scan
    skips inference — at 100 TB an inference pass is a full extra
    read of the corpus, so production callers should always pass
    it."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)
