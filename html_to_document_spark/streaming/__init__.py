"""Structured Streaming surface.

The reference has NO streaming API (SURVEY.md §1: batch-only document
transducer); this module exists because a continuously-ingesting
crawl pipeline is the natural deployment shape at 10^12 docs. The
extraction operator is stateless per-row, so it lifts unchanged into a
file-source stream -> ``mapInArrow`` -> sink query (``stream.py``)."""
