"""Spans -> HTML serializer (SURVEY.md §2.10 Z1).

Typed HTML reconstruction mirroring the reference's ``toHtml``
(/root/reference/packages/core/src/utils/html.serializer.ts:137-187 tag
resolution by element type, :262-304 thead/tbody regrouping, :112-127
void tags), re-targeted at the span IR:

- tag resolution from span kind + meta: headings by level, ``<p>``,
  generic paragraph-kind tags (pre/blockquote/...), ``<hr>``, void
  ``<img>`` with src/alt, page-break sections, first-link ``<a href>``
  re-wrap (L10)
- consecutive list-item spans regroup into nested ``<ul>``/``<ol>``
  from the (level, list) meta
- table rows regroup into ``<thead>``/``<tbody>`` (``<th>`` cells in
  thead) from the extractor's thead_rows meta; captions fold back
  inside their table, caption-side: bottom preserved
- WHITESPACE CARVE-OUT: a typed tag survives the minify pass on
  re-parse only for canonical text (single interior spaces, no edge
  whitespace per ``<br>`` segment); anything else serializes as a
  ``<pre>`` block — the reference's own whitespace carve-out
  (minify.middleware.ts:81-107)

Round-trip contracts:
- 4-tuple fixpoint ``extract(serialize(spans)) == spans`` holds for
  EVERY span sequence (tests/test_roundtrip.py over all goldens) —
  typed tags preserve (kind, text, media_ref, order) by construction,
  the pre fallback covers the rest;
- the stronger meta fixpoint ``extract(serialize(s), with_meta) == s``
  holds for structured HTML (tests/test_serializer.py), where the
  reference's serializer parity actually matters.
"""

from __future__ import annotations

import re

_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]

# whitespace that the minify pass would rewrite: anything non-space, or
# a double space (the rule of minify._collapse)
_NONCANON_RE = re.compile(r"[^\S ]|  ")

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
# paragraph-kind tags the extractor records verbatim in meta["tag"]
_PARA_TAGS = frozenset("p address blockquote figcaption dt dd".split())


def escape_html(text: str) -> str:
    for raw, ent in _ESCAPES:
        text = text.replace(raw, ent)
    return text


def escape_attr(text: str) -> str:
    return escape_html(text).replace('"', "&quot;")


def _canonical(text: str) -> bool:
    """True iff minify + block-trim is a no-op on the typed form: every
    ``<br>``-segment has no edge spaces and no collapsible whitespace."""
    for seg in text.split("\n"):
        if seg != seg.strip(" ") or _NONCANON_RE.search(seg):
            return False
    return True


def _inner_html(text: str, meta: dict | None) -> str:
    """Canonical chunk text -> inner HTML: newlines back to <br>,
    first-link href re-wrapped (L10)."""
    inner = "<br>".join(escape_html(seg) for seg in text.split("\n"))
    href = meta.get("href") if meta else None
    if href:
        inner = f'<a href="{escape_attr(href)}">{inner}</a>'
    return inner


def _id_attr(meta: dict | None) -> str:
    """L11 bookmark id re-emission (element id from span metadata)."""
    elem_id = meta.get("id") if meta else None
    return f' id="{escape_attr(elem_id)}"' if elem_id else ""


def _pre(text: str) -> str:
    return f"<pre>{escape_html(text or '')}</pre>"


def _img(ref: str | None, meta: dict | None) -> str:
    attrs = []
    if ref is not None:
        attrs.append(f' src="{escape_attr(ref)}"')
    alt = meta.get("alt") if meta else None
    if alt:
        attrs.append(f' alt="{escape_attr(alt)}"')
    return f"<img{''.join(attrs)}>"


def _cell(tag: str, c: str) -> str:
    if c == "" or _canonical(c):
        return f"<{tag}>{escape_html(c)}</{tag}>"
    return f"<{tag}>{_pre(c)}</{tag}>"


def _table(text: str | None, meta: dict | None,
           caption: tuple[str, str] | None) -> str:
    rows = (text or "").split("\n")

    def _n(key: str) -> int:
        if not meta or not meta.get(key):
            return 0
        try:
            return max(0, min(int(meta[key]), len(rows)))
        except ValueError:
            return 0

    thead_n = _n("thead_rows")
    tfoot_n = min(_n("tfoot_rows"), len(rows) - thead_n)
    row_html = []
    for r, row in enumerate(rows):
        cell_tag = "th" if r < thead_n else "td"
        cells = "".join(_cell(cell_tag, c) for c in row.split("\t"))
        row_html.append(f"<tr>{cells}</tr>")
    cap = ""
    if caption is not None:
        ctext, side = caption
        style = ' style="caption-side: bottom"' if side == "bottom" else ""
        cap = f"<caption{style}>{escape_html(ctext)}</caption>"
    if thead_n or tfoot_n:
        # reference shape (html.serializer.ts:262-304): thead rows
        # first, remaining mid rows wrapped in tbody, tfoot rows last
        inner = cap
        if thead_n:
            inner += "<thead>" + "".join(row_html[:thead_n]) + "</thead>"
        body = row_html[thead_n:len(row_html) - tfoot_n]
        if body:
            inner += "<tbody>" + "".join(body) + "</tbody>"
        if tfoot_n:
            inner += "<tfoot>" + "".join(row_html[-tfoot_n:]) + "</tfoot>"
    else:
        inner = cap + "".join(row_html)
    return f"<table>{inner}</table>"


def _list_html(items: list[tuple[int, str, str, str]]) -> str:
    """(level, inner_html, list_tag, id_attr) run -> nested <ul>/<ol>
    markup.
    Deeper runs nest inside the previous <li> (extract's _list walks
    nested list containers at depth+1 inside their parent item)."""

    def rec(idx: int) -> tuple[str, int]:
        level = items[idx][0]
        tag = items[idx][2]
        parts: list[str] = [f"<{tag}>"]
        has_li = False
        while idx < len(items):
            lv = items[idx][0]
            if lv < level:
                break
            if lv > level:
                sub, idx = rec(idx)
                if has_li and parts[-1].endswith("</li>"):
                    parts[-1] = parts[-1][:-5] + sub + "</li>"
                else:  # degenerate: deeper item with no parent li
                    parts.append(f"<li>{sub}</li>")
                continue
            if items[idx][2] != tag:
                break  # adjacent sibling list of the other type (ol vs ul)
            parts.append(f"<li{items[idx][3]}>{items[idx][1]}</li>")
            has_li = True
            idx += 1
        parts.append(f"</{tag}>")
        return "".join(parts), idx

    out, idx = [], 0
    while idx < len(items):
        html, idx = rec(idx)
        out.append(html)
    return "".join(out)


def _meta_of(span) -> dict | None:
    if len(span) > 4 and isinstance(span[4], dict):
        return span[4]
    return None


def _typed_text(text: str, meta: dict | None) -> str:
    """One text span -> typed HTML (non-list kinds)."""
    tag = meta.get("tag") if meta else None
    if tag == "hr" or (meta is None and text == ""):
        return "<hr>"
    if tag == "pre" or not _canonical(text):
        return _pre(text)
    inner = _inner_html(text, meta)
    if tag in _HEADING_TAGS or tag in _PARA_TAGS:
        return f"<{tag}{_id_attr(meta)}>{inner}</{tag}>"
    if meta is not None and tag is None:
        # fragment-dissolved / root-level text: <div> dissolves back to
        # a bare chunk with empty meta on re-parse
        return f"<div>{inner}</div>"
    return f"<p>{inner}</p>"


def serialize_spans(spans: list) -> str:
    """``[(kind, text, media_ref, offset[, meta])]`` -> HTML string."""
    parts: list[str] = []
    i, n = 0, len(spans)
    while i < n:
        s = spans[i]
        kind, text, ref = s[0], s[1], s[2]
        meta = _meta_of(s)
        tag = meta.get("tag") if meta else None

        if kind == "image":
            parts.append(_img(ref, meta))
            i += 1
        elif kind == "pagebreak":
            parts.append('<section class="page-break"></section>')
            i += 1
        elif kind == "table":
            # caption-side: bottom -> the caption span follows its table
            nxt = spans[i + 1] if i + 1 < n else None
            nmeta = _meta_of(nxt) if nxt is not None else None
            if (
                nxt is not None and nxt[0] == "text" and nmeta
                and nmeta.get("tag") == "caption"
                and nmeta.get("side") == "bottom"
                and _canonical(nxt[1] or "")
            ):
                parts.append(_table(text, meta, (nxt[1], "bottom")))
                i += 2
            else:
                parts.append(_table(text, meta, None))
                i += 1
        elif (
            kind == "text" and tag == "caption"
            and meta.get("side") != "bottom"
            and i + 1 < n and spans[i + 1][0] == "table"
            and _canonical(text or "")
        ):
            # top caption folds inside the FOLLOWING table
            parts.append(_table(spans[i + 1][1], _meta_of(spans[i + 1]),
                                (text, "top")))
            i += 2
        elif kind == "text" and tag == "li" and _canonical(text or ""):
            items: list[tuple[int, str, str]] = []
            while i < n:
                s2 = spans[i]
                m2 = _meta_of(s2)
                if (
                    s2[0] != "text" or m2 is None
                    or m2.get("tag") != "li"
                    or not _canonical(s2[1] or "")
                ):
                    break
                try:
                    lv = int(m2.get("level", "0"))
                except ValueError:
                    lv = 0
                items.append(
                    (max(lv, 0), _inner_html(s2[1] or "", m2),
                     m2.get("list") or "ul", _id_attr(m2))
                )
                i += 1
            parts.append(_list_html(items))
        elif kind == "text":
            parts.append(_typed_text(text or "", meta))
            i += 1
        else:  # unknown kind: ignore (forward compatibility)
            i += 1
    return "".join(parts)
