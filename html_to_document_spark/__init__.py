"""html_to_document_spark — a PySpark-native distributed main-content
extraction engine with the query/data-processing capabilities of
ChipiKaf/html-to-document (reference read-only at /root/reference).

NOT a port: the reference is a single-threaded TypeScript object-tree
transducer; this engine is a columnar Spark pipeline. Per-document HTML
parsing happens inside Arrow-batched ``mapInArrow`` stages; everything
relational (partitioning, lineage aggregation, checkpoint resume,
dedup/similarity/text-analysis operators) is expressed with the
DataFrame API so Catalyst handles pushdown, pruning and AQE.

Output contract (BASELINE.json input_hint / north_rule):
    doc_id STRING,
    spans  ARRAY<STRUCT<kind STRING, text STRING, media_ref STRING, offset INT>>
with kind in {text, image, table, pagebreak} and offset == array position.
"""

from html_to_document_spark.core.extract import extract_document, ExtractOptions
from html_to_document_spark.core.minify import minify_html

__all__ = ["extract_document", "ExtractOptions", "minify_html"]
__version__ = "0.1.0"
