"""Single-pass streaming span extraction (SURVEY.md §2.3 T1, the
"array-encoded walker" promise, delivered as a fused token machine).

``extract.extract_document`` originally ran three passes per document:
minify (token machine) -> ``dom.parse_tokens`` (builds a node tree of
Python lists) -> ``extract._Walker`` (recursive tree walk emitting
spans). The tree exists only to be walked once; the intermediate token
list exists only to be re-classified. Both are pure allocation traffic
— and at 100 TB allocation traffic is what saturates per-executor
memory bandwidth (BENCH r2: the extraction leg is DRAM-bound at 8+
threads on one box).

Architecture: ``_make_walker`` builds the walker state machine as a set
of closures (deliver text / open / close, finish); the minify machine
``minify._drive`` feeds it. ``_drive`` is ONE loop over the raw regex
token stream that resolves whitespace inline and delivers resolved
tokens straight into the three callbacks — no token list, no tree, no
per-element tuples. Tag tokens are classified once globally
(``minify._TAG_MEMO``): real corpora repeat a tiny set of tag strings,
so classification + attribute parsing amortize to one dict hit.

Text-only leaves take one step. The machine hands a leaf such as
``<td>x</td>`` to ``wleaf`` as one call, and the walker appends the span
or cell directly, with no frame push/pop, in three contexts: a
paragraph-kind tag under M_FRAG, ``li`` under M_LIST, and ``td``/``th``
under M_TR (colspan/rowspan clamped as at an open). Everywhere else
``wleaf`` declines (returns False): meta mode, inside rawtext, a void
(``sc_dom``) or rawtext tag, a hidden or non-paragraph element, a
pending pagebreak, and any open that would imply a close (an open
``p`` under a ``p``-closer, the li/td/th/tr/option pairs). The machine
then delivers the same leaf as wopen/wtext/wclose, so a decline is
always the token-by-token path.

``stream_document`` is the only driver. A document with a ``<style>``
element needs its whole stylesheet before the first hidden() decision,
so it runs ``_drive`` twice: first into ``_style_collector`` (a push-form
rawtext capture that fills the ``Stylesheet``), then into the walker.

The tree-based walker in ``extract.py`` is retained as the executable
specification; ``tests/test_stream_extract.py`` pins the two strategies
span-for-span equal on hostile corpora. Both read the same machine
(the tree path parses ``minify_tokens``, which is ``_drive`` into a
list), so the minify layer itself is pinned against its two-pass spec
in ``tests/test_minify.py``.

Semantics re-derived from the reference (citations in extract.py):
- implied closes / rawtext capture: dom.parse_tokens (parser.ts:17-22)
- whitespace minification: minify.middleware.ts:29-156 (via minify.py)
- block/inline chunking: converter.ts:361-398
- list-item paragraph inlining with synthesized breaks:
  converter.ts:324-359 (the one LOOKAHEAD in the tree walker — "\\n"
  after an inlined <p> only when more siblings follow — becomes a
  DEFERRED action resolved by the next sibling token or discarded at
  the list-item close)
- page sections: trailing pagebreak unless last child
  (docx.adapter.ts:506-563) — same deferral trick
- table grid: table.ts:97-159; sections parser.ts:262-278

Lookahead-free by construction: every future-dependent decision in the
tree walker depends only on WHETHER another sibling token arrives, so a
one-slot pending action per open frame suffices.
"""

from __future__ import annotations

from html import unescape as _unescape

from html_to_document_spark.core import css as _css
from html_to_document_spark.core.dom import (
    RAWTEXT_ELEMENTS,
    _P_CLOSERS,
    _decode,
)
from html_to_document_spark.core.extract import (
    IMAGE,
    PAGEBREAK,
    TABLE,
    TEXT,
    HEADING_TAGS,
    LIST_TAGS,
    ExtractOptions,
    DEFAULT_OPTIONS,
    _build_kind_map,
    _compiled_drop_re,
    _DEFAULT_KIND_MAP,
    _linearize_grid,
    _span_int,
    MAX_COLSPAN,
    MAX_ROWSPAN,
    _STYLE_SCAN_RE,
    resolve_img_src,
)
from html_to_document_spark.core.minify import _COMMENT_RE, _drive


# frame modes ------------------------------------------------------------
M_FRAG = 0        # walk_fragment context (root, div, page, ...)
M_INLINE = 1      # walk_inline context
M_PARA = 2        # _paragraph context
M_LIST = 3        # _list container
M_LI = 4          # _list_item context
M_INLINED_P = 5   # <p> inlined inside an <li> (break synthesis)
M_TABLE = 6       # _table collector
M_TSECTION = 7    # thead/tbody/tfoot
M_TR = 8          # table row
M_CELL = 9        # td/th — flatten-text collector
M_FLAT = 10       # inline/block continuation inside a cell/caption
M_CAPTION = 11    # <caption> — flatten-text targeted at the table frame
M_SUPPRESS = 12   # dropped/hidden/ignored subtree

# popping one of these back into an M_LI restores the li chunk-meta
# (the tree walker resets meta after every block child of an <li>)
_BLOCK_MODES = frozenset({M_FRAG, M_PARA, M_LIST, M_TABLE})

# tags whose open closes the top element in pairs (li/li, td-th/td-th,
# tr/td-th-tr, option/option: dom.parse_tokens' implied closes)
_PAIR_CLOSERS = frozenset({"li", "td", "th", "tr", "option"})

# rawtext dispositions (decided at the rawtext element's open)
RT_DISCARD = 0    # dropped/hidden/ignored context
RT_CHUNK = 1      # un-dropped script/style in a chunking context
RT_FLAT = 2       # un-dropped script/style inside a cell/caption

# memoized unknown-tag kinds are deterministic ('inline'), so the
# default-options kind map can be shared and mutated across documents
# (each UDF worker is its own process; batches are single-threaded)
_SHARED_DEFAULT_MAP = dict(_DEFAULT_KIND_MAP)
# hard cap on learned unknown-tag entries (shared across documents in a
# worker process): once full, unknown tags still classify as 'inline',
# they just stop being inserted — an adversarial corpus of junk tags
# (``<junk7 w>``, any letter-led name) must not grow the dict without
# bound
_KIND_MAP_MAX_SIZE = len(_SHARED_DEFAULT_MAP) + 4096


def _cell_spans(attrs) -> tuple[int, int]:
    """A cell's (colspan, rowspan), clamped to the HTML table model."""
    if not attrs:
        return 1, 1
    return (_span_int(attrs.get("colspan"), MAX_COLSPAN),
            _span_int(attrs.get("rowspan"), MAX_ROWSPAN))


def _style_collector(sheet: "_css.Stylesheet"):
    """Push-form equivalent of ``parse_tokens`` rawtext capture +
    ``_collect_styles``, fed by ``_drive``: lift every <style> element's
    raw content into the per-doc stylesheet. Returns ``(ctext, copen,
    cclose, cleaf, cfinish)``. A <style> token inside a <script> rawtext
    region is script CONTENT, not an element; same-tag opens inside a
    region nest (depth count, so ``<style><style/>`` leaves the region
    open); a <style> still open at end of input is added by
    ``cfinish``."""
    # open rawtext region: [tag, same-tag depth, parts]; tag None = none
    rt: list = [None, 0, None]

    def ctext(t: str) -> None:
        if rt[0] is not None:
            rt[2].append(t)

    def copen(tag, raw, attrs, sc_dom, rawtext) -> None:
        if rt[0] is None:
            if rawtext:
                rt[0], rt[1], rt[2] = tag, 0, []
            return
        if tag == rt[0]:
            rt[1] += 1
        rt[2].append(raw)

    def cclose(tag: str) -> None:
        if rt[0] is None:
            return
        if tag == rt[0]:
            if rt[1] == 0:
                cfinish()
                return
            rt[1] -= 1
        rt[2].append(f"</{tag}>")

    def cleaf(tag, raw, attrs, sc_dom, text) -> bool:
        # outside a region a leaf is captured only if it opens one
        return rt[0] is None and tag not in RAWTEXT_ELEMENTS

    def cfinish() -> None:
        if rt[0] == "style" and rt[2]:
            sheet.add_css("".join(rt[2]))
        rt[0] = None

    return ctext, copen, cclose, cleaf, cfinish


def _make_walker(opts: ExtractOptions, sheet: "_css.Stylesheet | None"):
    """Build the walker state machine. Returns
    ``(wtext, wopen, wclose, wleaf, wfinish)`` closures:

    - ``wtext(text)``: a resolved (minified, undecoded) text node
    - ``wopen(tag, raw, attrs, sc_dom, rawtext)``: an element open
    - ``wclose(tag)``: an element close (tag from the minify machine)
    - ``wleaf(tag, raw, attrs, sc_dom, text) -> bool``: a text-only
      leaf in one step, or False to take it as open/text/close
    - ``wfinish() -> spans``: EOF unwind + final flush
    """
    meta_mode = opts.with_meta
    img_crawl = opts.img_src_crawl
    # figure-instance ids (meta mode) — tree-walker parity: ordinal
    # assigned at each span-level <figure> open (in-table figures
    # flatten into the table text in BOTH strategies and never count)
    fig_stack: list[int] = []
    fig_n = [0]
    kind_map = (
        _SHARED_DEFAULT_MAP if opts is DEFAULT_OPTIONS
        else _build_kind_map(opts)
    )
    sheet_has_rules = sheet is not None and bool(sheet.rules)
    drop_class_re = (
        _compiled_drop_re(opts.drop_class_re)
        if opts.drop_class_re else None
    )

    spans: list = []
    chunk: list[str] = []
    a_depth = 0
    link_chars = 0
    chunk_meta: dict | None = None
    chunk_href: str | None = None
    chunk_tag_n = 0

    # root frame: [mode, tag, is_page, pending_pb]; every frame keeps
    # its tag at [1], and open_tags mirrors those tags
    frames: list[list] = [[M_FRAG, "#root", False, False]]
    open_tags: list[str] = ["#root"]
    # open <p> elements on the stack: the implied-close check reads this
    # count instead of scanning open_tags on every block open
    p_open = 0
    hidden_memo: dict = {}

    # rawtext collection state (script/style interiors)
    rt_tag: str | None = None
    rt_parts: list = []
    rt_depth = 0
    rt_action = RT_DISCARD
    rt_sink: list | None = None

    def add_text(text: str) -> None:
        nonlocal link_chars
        if not text:
            return
        chunk.append(text)
        if a_depth > 0:
            link_chars += len(text)

    def flush(emit_empty: bool = False) -> None:
        nonlocal link_chars, chunk_href, chunk_tag_n
        text = "".join(chunk)
        if text or emit_empty:
            meta = None
            if meta_mode:
                meta = dict(chunk_meta) if chunk_meta else {}
                if chunk_href is not None:
                    meta["href"] = chunk_href
            spans.append([TEXT, text, None, link_chars, meta, chunk_tag_n])
        chunk.clear()
        link_chars = 0
        chunk_href = None
        chunk_tag_n = 0

    def emit(kind: str, text, ref, meta=None) -> None:
        spans.append([kind, text, ref, 0, meta if meta_mode else None, 0])

    def kind_of(tag: str, attrs) -> str:
        kind = kind_map.get(tag)
        if kind is None:
            # Same policy as minify._TAG_MEMO: memoize only what plausibly
            # repeats. Malformed web text tokenizes to junk tags (any
            # letter-led name) and the shared map is process-global —
            # unbounded inserts grow a long-lived worker without limit.
            if len(kind_map) < _KIND_MAP_MAX_SIZE:
                kind_map[tag] = "inline"
            return "inline"
        if kind == "@section":
            classes = ((attrs or {}).get("class") or "").split()
            if "page-break" in classes:
                return "page-break"
            if "page" in classes:
                return "page"
            return "fragment"
        return kind

    def hidden(tag: str, raw: str, attrs) -> bool:
        """display:none or a drop_class_re hit, memoized per raw tag
        token: the sheet is fixed per document, and computed_style reads
        only the element's own tag and attrs (selectors with
        combinators never match), both derived from the token."""
        if attrs is None and not sheet_has_rules:
            return False
        h = hidden_memo.get(raw)
        if h is None:
            h = hidden_memo[raw] = _hidden(tag, attrs)
        return h

    def _hidden(tag: str, attrs) -> bool:
        if attrs is not None and drop_class_re is not None:
            # readability-style pruning (ExtractOptions.drop_class_re):
            # same subtree-suppression path as display:none, lockstep
            # with _Walker._hidden
            blob = (attrs.get("class") or "")
            aid = attrs.get("id")
            if aid:
                blob = f"{blob} {aid}"
            if blob and drop_class_re.search(blob):
                return True
        style = _css.computed_style(tag, attrs, sheet)
        disp = style.get("display")
        return disp is not None and disp.strip().lower() == "none"

    def img_meta(attrs):
        if not meta_mode:
            return None
        out = {"tag": "img"}
        if attrs and attrs.get("alt"):
            out["alt"] = attrs["alt"]
        if fig_stack:
            out["fig"] = str(fig_stack[-1])
        return out

    def li_meta_of(fr: list) -> dict:
        m = {"tag": "li", "level": str(fr[2]), "list": fr[3]}
        if fr[4]:
            m["id"] = fr[4]
        return m

    def push(fr: list) -> None:
        nonlocal p_open
        frames.append(fr)
        open_tags.append(fr[1])
        if fr[1] == "p":
            p_open += 1

    def pop_close() -> None:
        """Pop the top frame and run its close action (explicit closes,
        implied closes, the EOF unwind, degenerate self-closed
        elements). One merged function — this runs once per element."""
        nonlocal a_depth, chunk_meta, p_open
        if open_tags.pop() == "p":
            p_open -= 1
        popped = frames.pop()
        t = frames[-1]
        pm = popped[0]
        if pm == M_FRAG:
            flush()
            if meta_mode and popped[1] == "figure" and fig_stack:
                fig_stack.pop()
            if popped[2]:  # page: pagebreak unless last child
                if t[0] == M_FRAG:
                    t[3] = True  # defer to the next sibling token
                else:
                    emit(PAGEBREAK, None, None)
        elif pm == M_INLINE:
            if popped[2]:
                a_depth -= 1
        elif pm == M_PARA:
            if chunk:
                flush()
            elif len(spans) == popped[2]:
                flush(emit_empty=True)
            if meta_mode:
                chunk_meta = None
        elif pm == M_LI:
            popped[9] = False  # trailing '\n': no next sibling arrived
            if chunk:
                flush()
            elif len(spans) == popped[5] and not popped[6]:
                flush(emit_empty=True)
        elif pm == M_INLINED_P:
            t[9] = True   # '\n' only if another sibling arrives
            # t[8] (prev-is-p) was already set positionally at open
        elif pm == M_TABLE:
            _close_table(popped, emit, meta_mode)
        elif pm == M_TR:
            popped[4].append((popped[2], popped[3]))
        elif pm == M_CELL:
            popped[5].append(("".join(popped[2]), popped[3], popped[4]))
        elif pm == M_CAPTION:
            popped[3][3] = "".join(popped[2])
            popped[3][4] = popped[4]
        # M_LIST / M_TSECTION / M_FLAT / M_SUPPRESS: nothing
        if t[0] == M_LI and pm in _BLOCK_MODES and meta_mode:
            chunk_meta = li_meta_of(t)

    def open_block(kind: str, tag: str, attrs, self_closing: bool) -> None:
        """_Walker._block for string kinds, stream form. The caller
        already flushed per its context's rules."""
        nonlocal chunk_meta
        if kind == "paragraph":
            if meta_mode:
                chunk_meta = {"tag": tag}
                if tag in HEADING_TAGS:
                    chunk_meta["level"] = tag[1]
                if attrs and attrs.get("id"):
                    chunk_meta["id"] = attrs["id"]
                if tag == "figcaption" and fig_stack:
                    chunk_meta["fig"] = str(fig_stack[-1])
            fr = [M_PARA, tag, len(spans)]
        elif kind == "list":
            fr = [M_LIST, tag, 0, tag]
        elif kind == "table":
            fr = [M_TABLE, tag, [], None, "top", None]
        elif kind == "hr" or kind == "page-break":
            # the tree walker emits and never walks the children: a
            # non-void hr/page-break element discards its subtree
            if kind == "hr":
                emit(TEXT, "", None, {"tag": "hr"} if meta_mode else None)
            else:
                emit(PAGEBREAK, None, None)
            t = frames[-1]
            if t[0] == M_LI and meta_mode:  # li meta reset after blocks
                chunk_meta = li_meta_of(t)
            if not self_closing:
                push([M_SUPPRESS, tag])
            return
        elif kind == "page":
            fr = [M_FRAG, tag, True, False]
        else:  # fragment
            fr = [M_FRAG, tag, False, False]
            if meta_mode and tag == "figure":
                fig_n[0] += 1
                fig_stack.append(fig_n[0])

        push(fr)
        if self_closing:  # void block: open+close immediately
            pop_close()

    def start_rawtext(action: int, sink=None) -> None:
        nonlocal rt_tag, rt_depth, rt_action, rt_sink
        # rt_tag is set by wopen (the element's tag)
        rt_depth = 0
        rt_action = action
        rt_sink = sink
        rt_parts.clear()

    def finish_rawtext() -> None:
        nonlocal rt_tag
        content = "".join(rt_parts)
        rt_parts.clear()
        rt_tag = None
        if rt_action == RT_CHUNK:
            add_text(content)  # raw, undecoded (parse_tokens parity)
        elif rt_action == RT_FLAT and content:
            # tree parity: an EMPTY rawtext element has no text child at
            # all — appending '' here would make the flatten parts list
            # truthy and trip the block-separator newline downstream
            rt_sink.append(content)
        # RT_DISCARD: nothing

    # ------------------------------------------------------------------
    def wtext(token: str) -> None:
        nonlocal link_chars
        if rt_tag is not None:
            rt_parts.append(token)
            return
        top = frames[-1]
        mode = top[0]
        if mode == M_FRAG:
            if top[3]:  # deferred pagebreak from a page sibling
                top[3] = False
                emit(PAGEBREAK, None, None)
            # add_text(_decode(token)) inlined (hot path): minify
            # delivery guarantees token is non-empty here, but the
            # unescape can't produce '' from non-empty input either,
            # so the emptiness guard reduces to truthiness of token
            text = _unescape(token) if "&" in token else token
            if text:
                chunk.append(text)
                if a_depth > 0:
                    link_chars += len(text)
        elif mode == M_PARA or mode == M_INLINE:
            text = _unescape(token) if "&" in token else token
            if text:
                chunk.append(text)
                if a_depth > 0:
                    link_chars += len(text)
        elif mode == M_LI:
            if top[9]:  # pending trailing '\n' of an inlined <p>
                top[9] = False
                add_text("\n")
            top[7] += 1
            top[8] = False
            text = _unescape(token) if "&" in token else token
            if text:
                chunk.append(text)
                if a_depth > 0:
                    link_chars += len(text)
        elif mode == M_INLINED_P:
            if top[2]:  # break-before fires on first child of any kind
                top[2] = False
                add_text("\n")
            add_text(_decode(token))  # cold branch: keep the call form
        elif mode == M_CELL or mode == M_FLAT or mode == M_CAPTION:
            top[2].append(_unescape(token) if "&" in token else token)
        # M_LIST / M_TABLE / M_TSECTION / M_TR / M_SUPPRESS: ignored

    def wclose(tag: str) -> None:
        nonlocal rt_depth
        if rt_tag is not None:
            if tag == rt_tag:
                if rt_depth == 0:
                    finish_rawtext()
                else:
                    rt_depth -= 1
                    rt_parts.append(f"</{tag}>")
            else:
                rt_parts.append(f"</{tag}>")
            return
        if open_tags[-1] == tag:
            # well-formed fast path: the close matches the top of the
            # stack (the overwhelmingly common case) — equivalent to
            # the general loop below running exactly one iteration,
            # without the bottom-up `in` scan that traverses the whole
            # stack precisely when the match is innermost
            pop_close()
            return
        if tag in open_tags:
            while True:
                match = open_tags[-1] == tag
                pop_close()
                if match:
                    break
        # unmatched close: ignored (browser behavior)

    def wleaf(tag: str, raw: str, attrs, sc_dom: bool, text) -> bool:
        """A text-only leaf in one step (``text``: the resolved text, or
        None). Three contexts append directly, with no frame push/pop:
        a paragraph-kind tag under M_FRAG, an ``li`` under M_LIST and a
        ``td``/``th`` under M_TR. Everywhere else, and in meta mode,
        inside rawtext, for a void (``sc_dom``) or rawtext tag, a hidden
        element, a pending pagebreak or an implied close, it returns
        False and the machine delivers wopen/wtext/wclose instead."""
        nonlocal link_chars
        if rt_tag is not None or sc_dom or meta_mode:
            return False
        top = frames[-1]
        mode = top[0]
        if mode == M_TR:
            if tag != "td" and tag != "th":
                return False
            if text is None:
                text = ""
            elif "&" in text:
                text = _unescape(text)
            top[3].append((text, *_cell_spans(attrs)))
            return True
        if mode == M_LIST:
            if tag != "li" or open_tags[-1] == "li":
                return False
        elif mode == M_FRAG:
            if (top[3] or tag in _PAIR_CLOSERS or tag in RAWTEXT_ELEMENTS
                    or kind_of(tag, attrs) != "paragraph"
                    or (p_open and tag in _P_CLOSERS)
                    or hidden(tag, raw, attrs)):
                return False
            flush()
        else:
            return False
        # the M_PARA / M_LI frame's text and close: the close flushes,
        # emitting an empty span when the leaf added no text
        if text is not None:
            if "&" in text:
                text = _unescape(text)
            chunk.append(text)
            if a_depth > 0:
                link_chars += len(text)
        flush(emit_empty=True)
        return True

    def wopen(tag: str, raw: str, attrs, self_closing: bool,
              rawtext: bool) -> None:
        nonlocal rt_tag, rt_depth, a_depth, chunk_meta
        nonlocal chunk_href, chunk_tag_n
        if rt_tag is not None:
            if tag == rt_tag:
                rt_depth += 1
            rt_parts.append(raw)
            return

        # implied closes (dom.parse_tokens semantics, frame-aware)
        if p_open and tag in _P_CLOSERS:
            while open_tags[-1] != "p":
                if open_tags[-1] in ("#root", "td", "th", "table", "li"):
                    break
                pop_close()
            if open_tags[-1] == "p":
                pop_close()
        t_top = open_tags[-1]
        if tag == "li" and t_top == "li":
            pop_close()
        elif tag in ("td", "th") and t_top in ("td", "th"):
            pop_close()
        elif tag == "tr":
            while open_tags[-1] in ("td", "th", "tr"):
                pop_close()
        elif tag == "option" and t_top == "option":
            pop_close()
        top = frames[-1]
        mode = top[0]

        # ---- suppress / structural containers first -------------------
        if mode == M_SUPPRESS:
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return

        if mode == M_LIST:
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)  # non-li child: ignored
            elif tag == "li":
                li_id = attrs.get("id") if attrs else None
                fr = [M_LI, tag, top[2], top[3], li_id, len(spans),
                      False, 0, False, False]
                if meta_mode:
                    chunk_meta = li_meta_of(fr)
                push(fr)
                if self_closing:  # degenerate <li/>
                    pop_close()
            elif tag in LIST_TAGS and not self_closing:
                push([M_LIST, tag, top[2], tag])
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return

        if mode == M_TABLE:
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)
            elif tag == "tr":
                if self_closing:
                    # tree parity: a childless <tr/> node still lands an
                    # empty grid row in _table (open+close, like <li/>)
                    top[2].append(("tbody", []))
                else:
                    push([M_TR, tag, "tbody", [], top[2]])
            elif tag in ("thead", "tbody", "tfoot") and not self_closing:
                push([M_TSECTION, tag, tag, top[2]])
            elif tag == "caption":
                style = _css.computed_style(tag, attrs, sheet)
                side = style.get("caption-side", "top").strip().lower()
                if self_closing:
                    # tree parity: an empty caption still overwrites
                    # the collected caption text ('') and side
                    top[3] = ""
                    top[4] = side
                else:
                    push([M_CAPTION, tag, [], top, side])
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return

        if mode == M_TSECTION:
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)
            elif tag == "tr":
                if self_closing:
                    top[3].append((top[2], []))  # childless <tr/> row
                else:
                    push([M_TR, tag, top[2], [], top[3]])
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return

        if mode == M_TR:
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)
            elif tag in ("td", "th"):
                cs, rs = _cell_spans(attrs)
                push([M_CELL, tag, [], cs, rs, top[3]])
                if self_closing:  # degenerate <td/>
                    pop_close()
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return

        if mode == M_CELL or mode == M_FLAT or mode == M_CAPTION:
            parts = top[2]
            kind = kind_of(tag, attrs)
            if kind == "drop" or hidden(tag, raw, attrs):
                if rawtext:
                    rt_tag = tag
                    start_rawtext(RT_DISCARD)
                elif not self_closing:
                    push([M_SUPPRESS, tag])
                return
            if kind == "br":
                parts.append("\n")
                return
            if kind == "img":
                return
            if kind == "table":
                if not self_closing:
                    push([M_TABLE, tag, [], None, "top", parts])
                return
            if kind == "inline":
                if rawtext:
                    rt_tag = tag
                    start_rawtext(RT_FLAT, parts)
                elif not self_closing:
                    push([M_FLAT, tag, parts])
                return
            # block inside a cell: newline separation, keep collecting
            if parts and not parts[-1].endswith("\n"):
                parts.append("\n")
            if not self_closing:
                push([M_FLAT, tag, parts])
            return

        if mode == M_INLINED_P:
            if top[2]:  # break-before fires on ANY first child token
                top[2] = False
                add_text("\n")
            kind = kind_of(tag, attrs)
            if kind == "inline":
                if rawtext:
                    # tree parity: non-'br' non-inline-walked grandkids
                    # are ignored, but an un-dropped script IS inline
                    chunk_tag_n += 1
                    rt_tag = tag
                    start_rawtext(RT_CHUNK)
                    return
                chunk_tag_n += 1
                is_anchor = tag == "a"
                if is_anchor:
                    if meta_mode and chunk_href is None:
                        chunk_href = (attrs or {}).get("href")
                    if not self_closing:
                        a_depth += 1
                if not self_closing:
                    push([M_INLINE, tag, is_anchor])
            elif tag == "br":
                add_text("\n")
            elif rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return

        # ---- chunking contexts: M_FRAG / M_PARA / M_INLINE / M_LI -----
        kind = kind_of(tag, attrs)

        if mode == M_LI:
            if top[9]:
                top[9] = False
                add_text("\n")
            child_i = top[7]
            prev_is_p = top[8]
            top[7] = child_i + 1
            # tree parity: _list_item reads prev[0] == "p" POSITIONALLY
            # off the raw sibling list — a hidden or dropped <p> still
            # counts as "prev is a p" for the next sibling, and a
            # dropped <script> counts as "not a p"; set it from the raw
            # tag here, before the drop check.
            top[8] = tag == "p"
            if kind == "drop" or hidden(tag, raw, attrs):
                if rawtext:
                    rt_tag = tag
                    start_rawtext(RT_DISCARD)
                elif not self_closing:
                    push([M_SUPPRESS, tag])
                return
            if kind == "inline":
                chunk_tag_n += 1
                if rawtext:
                    rt_tag = tag
                    start_rawtext(RT_CHUNK)
                    return
                is_anchor = tag == "a"
                if is_anchor and meta_mode and chunk_href is None:
                    chunk_href = (attrs or {}).get("href")
                if self_closing:
                    return
                if is_anchor:
                    a_depth += 1
                push([M_INLINE, tag, is_anchor])
                return
            if kind == "br":
                add_text("\n")
                return
            if kind == "img":
                flush()
                emit(IMAGE, None, resolve_img_src(attrs, img_crawl),
                 img_meta(attrs))
                return
            if kind == "paragraph" and tag == "p":
                if self_closing:
                    # <p/>: has_content False -> no break-before;
                    # trailing '\n' still pends on a next sibling
                    # (top[8] already records the p positionally above)
                    top[9] = True
                    return
                need_break = child_i > 0 and not prev_is_p
                push([M_INLINED_P, tag, need_break])
                return
            # block child of the li
            top[6] = True
            if chunk:
                flush()
            if kind == "list":
                if not self_closing:
                    push([M_LIST, tag, top[2] + 1, tag])
                elif meta_mode:
                    chunk_meta = li_meta_of(top)
                return
            open_block(kind, tag, attrs, self_closing)
            return

        # M_FRAG / M_PARA / M_INLINE share one dispatch
        if mode == M_FRAG and top[3]:
            top[3] = False
            emit(PAGEBREAK, None, None)

        if kind == "drop" or hidden(tag, raw, attrs):
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_DISCARD)
            elif not self_closing:
                push([M_SUPPRESS, tag])
            return
        if kind == "inline":
            chunk_tag_n += 1
            if rawtext:
                rt_tag = tag
                start_rawtext(RT_CHUNK)
                return
            is_anchor = tag == "a"
            if is_anchor and meta_mode and chunk_href is None:
                chunk_href = (attrs or {}).get("href")
            if self_closing:
                return
            if is_anchor:
                a_depth += 1
            push([M_INLINE, tag, is_anchor])
            return
        if kind == "br":
            add_text("\n")
            return
        if kind == "img":
            flush()
            emit(IMAGE, None, resolve_img_src(attrs, img_crawl),
                 img_meta(attrs))
            return
        flush()
        open_block(kind, tag, attrs, self_closing)

    def wfinish() -> list:
        if rt_tag is not None:
            finish_rawtext()  # unterminated script/style at EOF
        while len(frames) > 1:
            pop_close()
        flush()  # the final walker._flush()
        return spans

    return wtext, wopen, wclose, wleaf, wfinish


def stream_document(
    html: str, opts: ExtractOptions = DEFAULT_OPTIONS
) -> list:
    """Raw HTML -> spans with no token list and no tree. A document
    that may contain a <style> element (conservative ``_STYLE_SCAN_RE``
    hit) first runs ``_drive`` into ``_style_collector``, so the walker
    starts with the complete stylesheet; everything else is one pass."""
    # scan BEFORE comment removal, like the tree spec's has_style
    # gate: "<<!---->style>" only becomes a <style> once comments are
    # gone, and the spec collects no sheet for it
    styled = _STYLE_SCAN_RE.search(html) is not None
    if "<!--" in html:
        html = _COMMENT_RE.sub("", html)
    sheet = None
    if styled:
        sheet = _css.Stylesheet()
        ctext, copen, cclose, cleaf, cfinish = _style_collector(sheet)
        _drive(html, ctext, copen, cclose, cleaf)
        cfinish()
    wtext, wopen, wclose, wleaf, wfinish = _make_walker(opts, sheet)
    _drive(html, wtext, wopen, wclose, wleaf)
    return wfinish()


def _close_table(fr: list, emit, meta_mode: bool) -> None:
    """Emit a collected table: grid linearization + caption placement;
    nested tables (sink is a cell's parts list) append their flattened
    text instead (extract._flatten_text parity)."""
    rows = fr[2]
    caption_text = fr[3]
    caption_side = fr[4]
    sink = fr[5]
    ordered = (
        [c for s, c in rows if s == "thead"]
        + [c for s, c in rows if s == "tbody"]
        + [c for s, c in rows if s == "tfoot"]
    )
    text = _linearize_grid(ordered)

    if sink is not None:
        pieces = []
        if caption_text and caption_side != "bottom":
            pieces.append(caption_text)
        pieces.append(text)
        if caption_text and caption_side == "bottom":
            pieces.append(caption_text)
        sink.append("\n".join(pieces))
        return

    cap_meta = {"tag": "caption"} if meta_mode else None
    tbl_meta = None
    if meta_mode:
        tbl_meta = {"tag": "table"}
        n_thead = sum(1 for s, _ in rows if s == "thead")
        n_tfoot = sum(1 for s, _ in rows if s == "tfoot")
        if n_thead:
            tbl_meta["thead_rows"] = str(n_thead)
        if n_tfoot:
            tbl_meta["tfoot_rows"] = str(n_tfoot)
    if caption_text and caption_side != "bottom":
        emit(TEXT, caption_text, None, cap_meta)
    emit(TABLE, text, None, tbl_meta)
    if caption_text and caption_side == "bottom":
        if cap_meta is not None:
            cap_meta = dict(cap_meta, side="bottom")
        emit(TEXT, caption_text, None, cap_meta)
