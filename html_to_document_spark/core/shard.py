"""Intra-document sharding for giant pages.

At 10^12-doc scale a single multi-hundred-MB page would serialize on
one task (the UDF is opaque to AQE). ``split_document`` cuts the HTML
into independently-extractable segments at SAFE top-level block
boundaries, so segments can fan out across tasks and the concatenated
span sequences equal the unsharded extraction exactly
(tests/test_shard.py proves equality on the synthetic giant corpus).

Safety rules (why the result is identical):
- cuts happen only at nesting depth 0, BETWEEN two block-level
  elements — the extractor flushes its inline chunk at every top-level
  block boundary, so no span can straddle a cut
- root-edge whitespace trims see a tag (never text) on each side of a
  cut, so minify's edge trimming is unchanged
- documents containing ``<style>`` (doc-global stylesheet) or
  ``class="page"`` sections (pagebreak emission depends on
  last-sibling position) are NOT split — returned whole
"""

from __future__ import annotations

import re

from html_to_document_spark.core.dom import VOID_ELEMENTS, tokenize
from html_to_document_spark.core.extract import (
    FRAGMENT_TAGS,
    HEADING_TAGS,
    LIST_TAGS,
    PARAGRAPH_TAGS,
)
from html_to_document_spark.core.minify import _COMMENT_RE

# top-level tags it is safe to cut BEFORE (block-level: the extractor
# flushes pending inline chunks when it meets them)
_CUT_TAGS = (
    PARAGRAPH_TAGS | HEADING_TAGS | LIST_TAGS | FRAGMENT_TAGS
    | {"table", "hr", "header", "footer", "section"}
) - {"body", "html"}

# ``page-break`` sections are safe (they emit unconditionally); only a
# bare ``page`` class depends on sibling position
_NO_SPLIT_RE = re.compile(
    r"<style\b|class\s*=\s*['\"][^'\"]*\bpage(?![\w-])", re.I
)


def split_document(html: str, max_segment_bytes: int = 256 * 1024) -> list[str]:
    """Split HTML into segments of ~max_segment_bytes at safe top-level
    block boundaries; returns [html] when no safe cut exists."""
    if len(html) <= max_segment_bytes or _NO_SPLIT_RE.search(html):
        return [html]

    html = _COMMENT_RE.sub("", html)
    tokens = tokenize(html)

    segments: list[str] = []
    buf: list[str] = []
    size = 0
    depth = 0
    prev_was_block_close = False

    for tok in tokens:
        if isinstance(tok, str):
            raw = tok
            is_text = True
        else:
            raw = tok[2]
            is_text = False

        if (
            not is_text
            and depth == 0
            and prev_was_block_close
            and size >= max_segment_bytes
            and tok[0] == "o"
            and tok[1] in _CUT_TAGS
        ):
            segments.append("".join(buf))
            buf, size = [], 0

        buf.append(raw)
        size += len(raw)

        if is_text:
            prev_was_block_close = False
        elif tok[0] == "o":
            tag = tok[1]
            self_closing = tag in VOID_ELEMENTS or raw.rstrip().endswith("/>")
            if not self_closing:
                depth += 1
                prev_was_block_close = False
            else:
                prev_was_block_close = depth == 0 and tag in _CUT_TAGS
        else:  # close
            depth = max(depth - 1, 0)
            prev_was_block_close = depth == 0 and tok[1] in _CUT_TAGS

    if buf:
        segments.append("".join(buf))
    return segments if segments else [html]
