"""HTML -> ordered span extraction (SURVEY.md §2.3-§2.5).

Reproduces the observable semantics of the reference pipeline
``minify -> DOM parse -> element walk -> block/inline chunking`` on the
golden fixture corpus:

- tag dispatch table: /root/reference/packages/core/src/parser.ts:361-649
- block/inline chunk merging (span boundary rule):
  /root/reference/packages/adapters/docx/src/element-converters/converter.ts:361-398
- nested-paragraph-in-list-item break synthesis: converter.ts:324-359
- table grid expansion (colspan/rowspan/holes):
  /root/reference/packages/adapters/docx/src/element-converters/block/table.ts:97-159
- table sections (thead/tbody/tfoot, implied tbody):
  parser.ts:262-278 (+ parser.test.ts:866)
- caption placement by ``caption-side``: block/table.ts:67-95
- page / page-break sections: parser.ts:509-516, docx.adapter.ts:506-563
- fragment flattening (div/dl dissolve): parser.ts:249-257

Output: ordered list of ``(kind, text, media_ref)`` with
``kind in {text, image, table, pagebreak}``; the caller assigns
``offset = position``. Table spans carry a deterministic linearization:
grid-expanded cells row-major, ``\\t`` between cells, ``\\n`` between
rows (merged/filler slots empty) — fixed by FIXTURES.md so goldens are
stable (the reference asserts the same structure at the OOXML level).

Boilerplate strip (north_star): ``script/style/nav/template/...`` are
always dropped; optional link-density scoring drops link-farm text
blocks (anchor_chars / chars > threshold for blocks shorter than
``boilerplate_min_keep_len``).

Pure Python, Spark-free: runs inside Arrow-batched ``mapInPandas``
(operators/extract_spans.py) and directly in pytest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import re as _re

from html_to_document_spark.core import css as _css
from html_to_document_spark.core.dom import (
    RAWTEXT_ELEMENTS,
    parse_html,
    parse_tokens,
)
from html_to_document_spark.core.minify import minify_tokens

_STYLE_SCAN_RE = _re.compile(r"<\s*style", _re.IGNORECASE)

# readability/trafilatura-style boilerplate class/id pattern (main-
# content extraction: subtrees whose class or id names them as site
# furniture are pruned before chunking). Own list in the spirit of
# Arc90 readability's unlikelyCandidates — tuned to crawl furniture
# that default DROP_TAGS (nav/header...) cannot catch because sites
# ship it in plain <div>s.
UNLIKELY_CLASS_RE = (
    r"breadcrumb|comment|cookie|disqus|masthead|menu|pagination|pager|"
    r"popup|promo|related|share|shoutbox|sidebar|social|sponsor|"
    r"subscribe|widget|advert|banner"
)


def _compiled_drop_re(pattern: str) -> "_re.Pattern":
    """Per-pattern compile memo: ExtractOptions carries the regex as a
    (picklable) string; executors compile once per distinct pattern."""
    pat = _DROP_RE_CACHE.get(pattern)
    if pat is None:
        pat = _DROP_RE_CACHE[pattern] = _re.compile(pattern, _re.IGNORECASE)
    return pat


_DROP_RE_CACHE: dict = {}

TEXT, IMAGE, TABLE, PAGEBREAK = "text", "image", "table", "pagebreak"

# always-dropped boilerplate/metadata tags (generalized strip-scripts
# plugin, reference README.md:193-199; semantic whitelist basis
# stylesheet-seeding.ts:12-186)
DROP_TAGS = frozenset(
    "script style nav template noscript head title meta link base iframe "
    "object svg canvas button select textarea datalist".split()
)

PARAGRAPH_TAGS = frozenset(
    "p address pre blockquote figcaption dt dd".split()
)
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
INLINE_TAGS = frozenset(
    "strong b em i cite dfn var small u ins span a mark kbd samp s del "
    "sup sub code abbr q time label font big tt bdi bdo data output "
    "ruby rt rp wbr".split()
)
FRAGMENT_TAGS = frozenset(
    "div dl article main aside body html center details summary figure "
    "form fieldset hgroup menu".split()
)
LIST_TAGS = frozenset({"ul", "ol"})


@dataclass(frozen=True)
class ExtractOptions:
    """Job-level extraction config (broadcast to executors once)."""

    minify: bool = True
    drop_tags: frozenset = DROP_TAGS
    # link-density boilerplate scoring; None disables
    boilerplate_max_link_density: float | None = None
    boilerplate_min_keep_len: int = 80
    # text-density boilerplate scoring (north_star): chars per merged
    # inline element in the chunk; short low-density chunks (menus,
    # button rows: many tags, little text) drop. None disables.
    boilerplate_min_text_density: float | None = None
    # per-tag overrides, parity with registerTagHandler (parser.ts:77-80):
    # tag -> one of 'drop'|'inline'|'paragraph'|'fragment'|'list'|'table',
    # OR a callable(walker, node) that emits spans itself (UDTF-like,
    # one node -> many spans; use walker.emit_text / walker.emit)
    tag_overrides: dict = field(default_factory=dict)
    # plugin hooks, parity with the 3-phase Plugin surface
    # (types.ts:260-319; execution converter.ts:129-190):
    #   before_parse: callables html -> html (run in order, pre-minify)
    #   on_document:  callables nodes -> nodes (post-parse node tree,
    #                 the css-parser plugin phase)
    #   after_parse:  callables spans -> spans (post-walk, pre-offset)
    before_parse: tuple = ()
    on_document: tuple = ()
    after_parse: tuple = ()
    # metadata-bearing output (T7/T9/L6/L10 parity): each span carries a
    # map with source tag, heading/list level, first href, image alt
    with_meta: bool = False
    # readability-style "unlikely candidates" pruning: a regex matched
    # (case-insensitively) against each element's class + id attribute
    # values; a hit suppresses the whole subtree, exactly like
    # display:none. None (default) disables. UNLIKELY_CLASS_RE is a
    # ready-made pattern for the classic crawl boilerplate classes.
    drop_class_re: str | None = None
    # crawl-realistic image source resolution: lazy-load data-src
    # variants win over srcset (largest w-, then x-descriptor
    # candidate), which wins over src. Off by default — the reference
    # reads src only (parser.ts img branch), and the goldens pin that;
    # real crawl pages put a 1px placeholder in src and the actual
    # image in data-src/srcset, so a training corpus wants this ON.
    img_src_crawl: bool = False


DEFAULT_OPTIONS = ExtractOptions()


# lazy-load attribute conventions, most-specific first (the
# trafilatura/readability crawl heuristic set)
_LAZY_SRC_ATTRS = ("data-src", "data-lazy-src", "data-original")


def resolve_img_src(attrs: dict | None, crawl: bool = False) -> str | None:
    """The media_ref an ``<img>`` contributes. Default (reference
    parity, parser.ts img branch): the ``src`` attribute verbatim.
    ``crawl=True`` (``ExtractOptions.img_src_crawl``): lazy-load
    attributes win, then the largest ``srcset``/``data-srcset``
    candidate (by ``w`` descriptor, then ``x`` density, then src-order
    for descriptor-less ties), then ``src`` — real pages ship a 1px
    placeholder in ``src`` and the bytes worth training on elsewhere.
    Candidate split is on commas; crawl srcset URLs with embedded
    commas (data URIs) are not supported — they take the src path."""
    if not attrs:
        return None
    if not crawl:
        return attrs.get("src")
    for a in _LAZY_SRC_ATTRS:
        v = attrs.get(a)
        if v and v.strip():
            return v.strip()
    srcset = attrs.get("srcset") or attrs.get("data-srcset")
    if srcset:
        best_url: str | None = None
        best_key = (-1.0, -1.0)
        for cand in srcset.split(","):
            parts = cand.split()
            if not parts:
                continue
            url, w, x = parts[0], 0.0, 0.0
            for d in parts[1:]:
                d = d.lower()
                try:
                    if d.endswith("w"):
                        w = float(d[:-1])
                    elif d.endswith("x"):
                        x = float(d[:-1])
                except ValueError:
                    pass
            if (w, x) > best_key:
                best_key, best_url = (w, x), url
        if best_url:
            return best_url
    return attrs.get("src")


def resolve_plugins(
    plugins: tuple = (),
    middleware: tuple = (),
    clear_middleware: bool = False,
    enable_default_plugins: bool | None = None,
    base: ExtractOptions = DEFAULT_OPTIONS,
) -> ExtractOptions:
    """Legacy middleware adapter + plugin resolution (SURVEY P5;
    reference ``converter.ts:207-244`` ``resolvePlugins`` /
    ``middlewareToPlugin``, manager ``middleware.manager.ts:3-19``).

    ``middleware``: legacy ``html -> html`` callables, run in
    registration order AFTER every plugin — the reference wraps each
    one in a ``beforeParse`` plugin appended last, and a before_parse
    hook here has the identical contract, so the adapter is
    positional, not structural. ``plugins``: callables (treated as
    before_parse, the common case) or mappings with any of
    ``before_parse`` / ``on_document`` / ``after_parse`` keys (the
    3-phase Plugin surface). ``enable_default_plugins`` defaults to
    ``not clear_middleware``, exactly the reference's
    ``enableDefaultPlugins = !clearMiddleware``.

    Ordering parity note: the reference's default minify is itself
    the FIRST beforeParse plugin, so its plugins and middleware see
    minified html; this engine fuses minify into tokenization AFTER
    the string hooks, so when defaults are enabled the string-level
    ``minify_html`` is prepended here, so the hooks observe the same
    bytes the reference's would. The later fused pass then runs over
    minified text. Minify is idempotent on well-formed pages, but not on
    every malformed one: text split by a stray close tag, or a bare
    ``<`` the tokenizer drops, can minify differently a second time.
    With the defaults off nothing minifies: the result has
    ``minify=False``, as the reference's default plugins are just
    minify."""
    from dataclasses import replace

    from html_to_document_spark.core.minify import minify_html

    if enable_default_plugins is None:
        enable_default_plugins = not clear_middleware
    before: list = [minify_html] if enable_default_plugins else []
    on_doc: list = []
    after: list = []
    for p in plugins:
        if callable(p):
            before.append(p)
            continue
        got = False
        for phase, sink in (("before_parse", before),
                            ("on_document", on_doc),
                            ("after_parse", after)):
            fn = p.get(phase) if hasattr(p, "get") else getattr(p, phase, None)
            if fn is not None:
                sink.append(fn)
                got = True
        if not got:
            raise TypeError(f"plugin {p!r} has no recognized phase")
    before.extend(middleware)  # middlewareToPlugin: appended LAST
    return replace(
        base,
        minify=base.minify and enable_default_plugins,
        before_parse=base.before_parse + tuple(before),
        on_document=base.on_document + tuple(on_doc),
        after_parse=base.after_parse + tuple(after),
    )


def _build_kind_map(opts: ExtractOptions) -> dict:
    """Flatten the tag-dispatch chain into one dict (hot path: one dict
    hit per element instead of up to ten frozenset probes). Precedence
    matches the original chain: overrides > drop > built-in kinds.
    'section' keeps a sentinel for its class-dependent dispatch."""
    km = dict(_BASE_KIND_MAP)
    if opts.drop_tags is not DROP_TAGS:
        # un-drop: every default drop tag resolves to 'inline' in the
        # original chain when removed from drop_tags (none of them are
        # in any other built-in set)
        for t in DROP_TAGS:
            km[t] = "inline"
    for t in opts.drop_tags:
        km[t] = "drop"
    if opts.tag_overrides:
        km.update(opts.tag_overrides)
    return km


def _make_base_kind_map() -> dict:
    km: dict = {}
    for t in INLINE_TAGS:
        km[t] = "inline"
    for t in PARAGRAPH_TAGS | HEADING_TAGS:
        km[t] = "paragraph"
    for t in LIST_TAGS:
        km[t] = "list"
    km.update(table="table", img="img", br="br", hr="hr")
    km["section"] = "@section"
    for t in FRAGMENT_TAGS | {"header", "footer"}:
        km[t] = "fragment"
    for t in ("thead", "tbody", "tfoot", "tr", "td", "th", "caption",
              "colgroup", "col", "option", "optgroup"):
        # table/select internals outside their container: fragment
        km[t] = "fragment"
    for t in DROP_TAGS:
        km[t] = "drop"
    return km


_BASE_KIND_MAP = _make_base_kind_map()
_DEFAULT_KIND_MAP = _build_kind_map(DEFAULT_OPTIONS)


class _Walker:
    __slots__ = (
        "opts", "sheet", "spans", "chunk", "a_depth", "link_chars",
        "meta_mode", "chunk_meta", "chunk_href", "chunk_tag_n",
        "_kind_map", "_drop_re", "img_crawl", "fig_stack", "fig_n",
    )

    def __init__(self, opts: ExtractOptions, sheet: _css.Stylesheet | None):
        self.opts = opts
        self.sheet = sheet
        # spans: list of [kind, text, media_ref, link_chars, meta|None]
        self.spans: list[list] = []
        self.chunk: list[str] = []
        self.a_depth = 0
        self.link_chars = 0
        self.meta_mode = opts.with_meta
        self.img_crawl = opts.img_src_crawl
        # figure-instance ids (meta mode): img/figcaption spans inside
        # a <figure> carry meta["fig"] = that figure's document-order
        # ordinal, so caption pairing can require SAME-figure
        # membership instead of guessing from span adjacency
        self.fig_stack: list[int] = []
        self.fig_n = 0
        self.chunk_meta: dict | None = None  # block context for the chunk
        self.chunk_href: str | None = None
        self.chunk_tag_n = 0  # inline elements merged into the chunk
        # per-doc copy: _kind_slow memoizes unknown tags into it
        self._kind_map = (
            dict(_DEFAULT_KIND_MAP) if opts is DEFAULT_OPTIONS
            else _build_kind_map(opts)
        )
        self._drop_re = (
            _compiled_drop_re(opts.drop_class_re)
            if opts.drop_class_re else None
        )

    # ---- chunk management -------------------------------------------------
    def _add_text(self, text: str) -> None:
        if not text:
            return
        self.chunk.append(text)
        if self.a_depth > 0:
            self.link_chars += len(text)

    def _flush(self, emit_empty: bool = False) -> None:
        text = "".join(self.chunk)
        if text or emit_empty:
            meta = None
            if self.meta_mode:
                meta = dict(self.chunk_meta) if self.chunk_meta else {}
                if self.chunk_href is not None:
                    meta["href"] = self.chunk_href
            self.spans.append(
                [TEXT, text, None, self.link_chars, meta, self.chunk_tag_n]
            )
        self.chunk.clear()
        self.link_chars = 0
        self.chunk_href = None
        self.chunk_tag_n = 0

    def _emit(self, kind: str, text: str | None, ref: str | None,
              meta: dict | None = None) -> None:
        self.spans.append(
            [kind, text, ref, 0, meta if self.meta_mode else None, 0]
        )

    # ---- dispatch ---------------------------------------------------------
    def _kind_of(self, tag: str, attrs: dict | None) -> str:
        kind = self._kind_map.get(tag)
        if kind is None:
            return self._kind_slow(tag)
        if kind == "@section":
            classes = ((attrs or {}).get("class") or "").split()
            if "page-break" in classes:
                return "page-break"
            if "page" in classes:
                return "page"
            return "fragment"
        return kind

    def _kind_slow(self, tag: str) -> str:
        # unknown tag -> 'custom' element; the reference treats custom
        # elements as inline (no block converter -> merged into chunks,
        # element-converters/converter.ts:98-133,361-376). Memoize so
        # repeated custom tags take the dict hit only once per doc.
        self._kind_map[tag] = "inline"
        return "inline"

    def _hidden(self, tag: str, attrs: dict | None) -> bool:
        if attrs is not None and self._drop_re is not None:
            # readability-style pruning rides the same subtree-
            # suppression path as display:none
            blob = (attrs.get("class") or "")
            aid = attrs.get("id")
            if aid:
                blob = f"{blob} {aid}"
            if blob and self._drop_re.search(blob):
                return True
        if attrs is None and (self.sheet is None or not self.sheet.rules):
            return False
        style = _css.computed_style(tag, attrs, self.sheet)
        disp = style.get("display")
        return disp is not None and disp.strip().lower() == "none"

    # ---- walks ------------------------------------------------------------
    def walk_fragment(self, children: list) -> None:
        """Block/inline chunking at container level (converter.ts:361-398)."""
        n = len(children)
        for i, node in enumerate(children):
            if node[0] == "#text":
                self._add_text(node[1])
                continue
            tag, attrs, kids = node
            kind = self._kind_of(tag, attrs)
            if kind == "drop" or self._hidden(tag, attrs):
                continue
            if kind == "inline":
                self.walk_inline(node)
            elif kind == "br":
                self._add_text("\n")
            elif kind == "img":
                self._flush()
                self._emit(IMAGE, None,
                           resolve_img_src(attrs, self.img_crawl),
                           self._img_meta(attrs))
            else:
                self._flush()
                self._block(node, kind, is_last=(i == n - 1))
        # caller decides whether to flush at the very end

    def walk_inline(self, node: list) -> None:
        tag = node[0]
        self.chunk_tag_n += 1
        is_anchor = tag == "a"
        if is_anchor:
            self.a_depth += 1
            if self.meta_mode and self.chunk_href is None:
                self.chunk_href = (node[1] or {}).get("href")
        for child in node[2]:
            if child[0] == "#text":
                self._add_text(child[1])
                continue
            ctag, cattrs, _ = child
            kind = self._kind_of(ctag, cattrs)
            if kind == "drop" or self._hidden(ctag, cattrs):
                continue
            if kind == "inline":
                self.walk_inline(child)
            elif kind == "br":
                self._add_text("\n")
            elif kind == "img":
                self._flush()
                self._emit(IMAGE, None,
                           resolve_img_src(cattrs, self.img_crawl),
                           self._img_meta(cattrs))
            else:
                self._flush()
                self._block(child, kind, is_last=False)
        if is_anchor:
            self.a_depth -= 1

    # ---- public surface for custom tag handlers (U2/U5) ------------------
    def emit_text(self, text: str, meta: dict | None = None) -> None:
        self._flush()
        self._emit(TEXT, text, None, meta)

    def emit(self, kind: str, text: str | None, ref: str | None,
             meta: dict | None = None) -> None:
        self._flush()
        self._emit(kind, text, ref, meta)

    def _img_meta(self, attrs: dict | None) -> dict | None:
        if not self.meta_mode:
            return None
        out = {"tag": "img"}
        if attrs and attrs.get("alt"):
            out["alt"] = attrs["alt"]
        if self.fig_stack:
            out["fig"] = str(self.fig_stack[-1])
        return out

    def _block(self, node: list, kind, is_last: bool) -> None:
        if not isinstance(kind, str):  # custom callable tag handler
            kind(self, node)
            return
        tag, attrs, kids = node
        if kind == "paragraph":
            if self.meta_mode:
                self.chunk_meta = {"tag": tag}
                if tag in HEADING_TAGS:
                    self.chunk_meta["level"] = tag[1]
                # L11 bookmark/id wrap (fallthrough/id.ts:32-116):
                # element ids surface as span metadata
                if attrs and attrs.get("id"):
                    self.chunk_meta["id"] = attrs["id"]
                if tag == "figcaption" and self.fig_stack:
                    self.chunk_meta["fig"] = str(self.fig_stack[-1])
            self._paragraph(node)
            if self.meta_mode:
                self.chunk_meta = None
        elif kind == "list":
            self._list(node)
        elif kind == "table":
            self._table(node)
        elif kind == "hr":
            self._emit(TEXT, "", None, {"tag": "hr"} if self.meta_mode else None)
        elif kind == "page-break":
            self._emit(PAGEBREAK, None, None)
        elif kind == "page":
            self.walk_fragment(kids)
            self._flush()
            if not is_last:
                self._emit(PAGEBREAK, None, None)
        else:  # fragment: dissolve wrapper (parser.ts:249-257)
            is_fig = self.meta_mode and tag == "figure"
            if is_fig:
                self.fig_n += 1
                self.fig_stack.append(self.fig_n)
            self.walk_fragment(kids)
            self._flush()
            if is_fig:
                self.fig_stack.pop()

    def _paragraph(self, node: list) -> None:
        before = len(self.spans)
        for child in node[2]:
            if child[0] == "#text":
                self._add_text(child[1])
                continue
            ctag, cattrs, _ = child
            kind = self._kind_of(ctag, cattrs)
            if kind == "drop" or self._hidden(ctag, cattrs):
                continue
            if kind == "inline":
                self.walk_inline(child)
            elif kind == "br":
                self._add_text("\n")
            elif kind == "img":
                self._flush()
                self._emit(IMAGE, None,
                           resolve_img_src(cattrs, self.img_crawl),
                           self._img_meta(cattrs))
            else:
                self._flush()
                self._block(child, kind, is_last=False)
        if self.chunk:
            self._flush()
        elif len(self.spans) == before:
            # genuinely empty paragraph -> empty text span (docx parity)
            self._flush(emit_empty=True)

    def _list(self, node: list, depth: int = 0) -> None:
        for child in node[2]:
            if child[0] == "#text":
                continue  # inter-item whitespace (minify drops it anyway)
            ctag, cattrs, _ = child
            if ctag == "li":
                self._list_item(child, depth, node[0])
            elif ctag in LIST_TAGS:
                self._list(child, depth)
            # anything else inside a list container is ignored

    def _list_item(self, li: list, depth: int = 0, list_tag: str = "ul") -> None:
        """One text span per item; nested paragraphs inlined with
        synthesized breaks (converter.ts:324-359)."""
        before = len(self.spans)
        if self.meta_mode:
            self.chunk_meta = {"tag": "li", "level": str(depth),
                               "list": list_tag}
            if li[1] and li[1].get("id"):
                self.chunk_meta["id"] = li[1]["id"]
        content = li[2]
        has_block_child = False
        n = len(content)
        for i, child in enumerate(content):
            if child[0] == "#text":
                self._add_text(child[1])
                continue
            ctag, cattrs, _ = child
            kind = self._kind_of(ctag, cattrs)
            if kind == "drop" or self._hidden(ctag, cattrs):
                continue
            if kind == "inline":
                self.walk_inline(child)
            elif kind == "br":
                self._add_text("\n")
            elif kind == "img":
                self._flush()
                self._emit(IMAGE, None,
                           resolve_img_src(cattrs, self.img_crawl),
                           self._img_meta(cattrs))
            elif kind == "paragraph" and ctag == "p":
                # inlineParagraphs: '\n' before when non-first, non-empty,
                # prev sibling not a paragraph; '\n' after when non-last
                has_content = bool(child[2])
                prev = content[i - 1] if i > 0 else None
                prev_is_p = (
                    prev is not None and prev[0] == "p"
                )
                if has_content and i > 0 and not prev_is_p:
                    self._add_text("\n")
                for gc in child[2]:
                    if gc[0] == "#text":
                        self._add_text(gc[1])
                    elif self._kind_of(gc[0], gc[1]) == "inline":
                        self.walk_inline(gc)
                    elif gc[0] == "br":
                        self._add_text("\n")
                if i < n - 1:
                    self._add_text("\n")
            else:
                has_block_child = True
                if self.chunk:
                    self._flush()
                if kind == "list":
                    self._list(child, depth + 1)
                else:
                    self._block(child, kind, is_last=False)
                if self.meta_mode:
                    self.chunk_meta = {"tag": "li", "level": str(depth),
                                       "list": list_tag}
                    if li[1] and li[1].get("id"):
                        self.chunk_meta["id"] = li[1]["id"]
        if self.chunk:
            self._flush()
        elif len(self.spans) == before and not has_block_child:
            self._flush(emit_empty=True)  # explicitly empty <li>

    # ---- tables -----------------------------------------------------------
    def _table(self, node: list) -> None:
        rows: list[tuple[str, list]] = []  # (section, cells)
        caption_text: str | None = None
        caption_side = "top"
        nested_tables_after: list[list] = []

        for child in node[2]:
            if child[0] == "#text":
                continue
            ctag, cattrs, ckids = child
            if ctag == "tr":
                rows.append(("tbody", self._row_cells(child)))
            elif ctag in ("thead", "tbody", "tfoot"):
                for tr in ckids:
                    if tr[0] == "tr":
                        rows.append((ctag, self._row_cells(tr)))
            elif ctag == "caption":
                caption_text = _flatten_text(child, self)
                style = _css.computed_style(ctag, cattrs, self.sheet)
                caption_side = style.get("caption-side", "top").strip().lower()
            # colgroup/col: no text effect (attribute hoisting T6 -> dropped)

        # section-ordered linearization: thead, tbody (incl. bare tr), tfoot
        ordered = (
            [c for s, c in rows if s == "thead"]
            + [c for s, c in rows if s == "tbody"]
            + [c for s, c in rows if s == "tfoot"]
        )
        text = _linearize_grid(ordered)

        cap_meta = {"tag": "caption"} if self.meta_mode else None
        tbl_meta = None
        if self.meta_mode:
            tbl_meta = {"tag": "table"}
            n_thead = sum(1 for s, _ in rows if s == "thead")
            n_tfoot = sum(1 for s, _ in rows if s == "tfoot")
            if n_thead:
                # serializer (Z1) regroups the first n rows into <thead>
                tbl_meta["thead_rows"] = str(n_thead)
            if n_tfoot:
                # ...and the last n rows into <tfoot>
                tbl_meta["tfoot_rows"] = str(n_tfoot)
        if caption_text and caption_side != "bottom":
            self._emit(TEXT, caption_text, None, cap_meta)
        self._emit(TABLE, text, None, tbl_meta)
        if caption_text and caption_side == "bottom":
            if cap_meta is not None:
                cap_meta = dict(cap_meta, side="bottom")
            self._emit(TEXT, caption_text, None, cap_meta)

    def _row_cells(self, tr: list) -> list:
        cells = []
        for cell in tr[2]:
            if cell[0] in ("td", "th"):
                attrs = cell[1]
                if attrs is None:
                    cells.append((_flatten_text(cell, self), 1, 1))
                else:
                    cells.append(
                        (
                            _flatten_text(cell, self),
                            _span_int(attrs.get("colspan"), MAX_COLSPAN),
                            _span_int(attrs.get("rowspan"), MAX_ROWSPAN),
                        )
                    )
        return cells


# the HTML table model's limits (colspan 1..1000, rowspan 0..65534); a
# 60-byte "<td colspan=100000 rowspan=100>" otherwise fills a 10M-cell
# grid
MAX_COLSPAN = 1000
MAX_ROWSPAN = 65534


def _span_int(val, limit: int) -> int:
    if val is None:
        return 1
    try:
        n = int(str(val).strip())
    except (TypeError, ValueError):
        return 1
    return min(max(n, 1), limit)


def _flatten_text(node: list, walker: _Walker) -> str:
    """Flatten a subtree to text: block children separated by '\\n',
    ``br`` -> '\\n', nested tables -> their linearization, images dropped."""
    parts: list[str] = []

    def rec(n: list, depth: int) -> None:
        for child in n[2]:
            if child[0] == "#text":
                parts.append(child[1])
                continue
            ctag, cattrs, _ = child
            kind = walker._kind_of(ctag, cattrs)
            if kind == "drop" or walker._hidden(ctag, cattrs):
                continue
            if kind == "br":
                parts.append("\n")
            elif kind == "img":
                continue
            elif kind == "table":
                sub = _Walker(walker.opts, walker.sheet)
                sub._table(child)
                parts.append(
                    "\n".join(s[1] for s in sub.spans if s[1] is not None)
                )
            elif kind == "inline":
                rec(child, depth + 1)
            else:  # block inside cell: newline-separated
                if parts and not parts[-1].endswith("\n"):
                    parts.append("\n")
                rec(child, depth + 1)

    rec(node, 0)
    return "".join(parts)


def _linearize_grid(rows: list[list]) -> str:
    """Grid expansion with colspan/rowspan/hole filling (table.ts:97-159)
    then row-major linearization: '\\t' cells, '\\n' rows; continue/filler
    slots are empty strings."""
    if not rows:
        return ""
    # fast path: no spans anywhere (the overwhelmingly common case) —
    # plain row-major join with ragged rows padded to the widest
    if all(cs == 1 and rs == 1 for cells in rows for _, cs, rs in cells):
        width = max(len(cells) for cells in rows)
        return "\n".join(
            "\t".join(c[0] for c in cells) + "\t" * (width - len(cells))
            for cells in rows
        )
    # first pass: grid width
    n_rows = len(rows)
    # occupancy: dict[(r,c)] -> True for slots consumed by earlier spans
    occupied: dict[tuple[int, int], bool] = {}
    grid: dict[tuple[int, int], str] = {}
    max_col = 0
    for r, cells in enumerate(rows):
        c = 0
        for text, colspan, rowspan in cells:
            while (r, c) in occupied:
                c += 1
            grid[(r, c)] = text
            for dr in range(rowspan):
                for dc in range(colspan):
                    if dr == 0 and dc == 0:
                        occupied[(r, c)] = True
                    else:
                        occupied[(r + dr, c + dc)] = True
            c += colspan
        max_col = max(max_col, c)
    # rowspans may extend occupancy beyond declared width
    for (r, c) in occupied:
        if r < n_rows and c + 1 > max_col:
            max_col = c + 1
    lines = []
    for r in range(n_rows):
        line = [grid.get((r, c), "") for c in range(max_col)]
        lines.append("\t".join(line))
    return "\n".join(lines)


def _collect_styles(nodes: list, sheet: _css.Stylesheet) -> None:
    """Lift all <style> element CSS into the per-doc stylesheet
    (css-parser plugin, plugins/css-parser/src/index.ts:15-43)."""
    for node in nodes:
        if node[0] == "#text":
            continue
        if node[0] == "style":
            for child in node[2]:
                if child[0] == "#text":
                    sheet.add_css(child[1])
            continue
        _collect_styles(node[2], sheet)


def _stream_eligible(options: ExtractOptions) -> bool:
    """True when the single-pass stream walker covers this config:
    ``on_document`` hooks and callable tag handlers need a real node
    tree; ``minify=False`` is the legacy two-tokenization path; a
    ``script``/``style`` override to a kind other than ``drop`` or
    ``inline`` (its rawtext content as a block, a break or an image)
    is walked by the tree spec. ``drop_tags`` alone only ever resolves
    them to ``drop`` or ``inline``."""
    if not options.minify or options.on_document:
        return False
    if options.tag_overrides:
        for v in options.tag_overrides.values():
            if not isinstance(v, str):
                return False
        for t in RAWTEXT_ELEMENTS:
            if options.tag_overrides.get(t, "drop") not in ("drop", "inline"):
                return False
    return True


def extract_document(
    html: str, options: ExtractOptions = DEFAULT_OPTIONS
) -> list[tuple[str, str | None, str | None, int]]:
    """Full per-document pipeline: minify -> parse -> walk -> spans.

    Returns ``[(kind, text, media_ref, offset), ...]`` with
    ``offset == position``; deterministic pure function of ``html`` (and
    options), stable under any Spark repartitioning.

    Two equivalent execution strategies (pinned span-for-span equal by
    ``tests/test_stream_extract.py``):

    - **stream** (default): ``stream_extract.stream_document`` runs the
      minify machine and the walker fused over the raw HTML — no token
      list and no DOM tree; a ``<style>`` document takes one extra
      machine pass that collects its stylesheet first.
    - **tree** (the executable specification, and the only path for
      ``on_document`` hooks / callable tag handlers / ``minify=False``
      / ``script`` or ``style`` overridden to a non-inline kind):
      ``parse_tokens`` -> ``_Walker`` recursion, as the reference does.
    """
    if html is None:
        return []
    for hook in options.before_parse:
        html = hook(html)

    if _stream_eligible(options):
        from html_to_document_spark.core import stream_extract as _se

        spans = _se.stream_document(html, options)
    else:
        spans = _tree_spans(
            minify_tokens(html) if options.minify else None, options, html
        )

    for hook in options.after_parse:
        spans = hook(spans)
    return _finalize_spans(spans, options)


def _tree_spans(
    tokens: list | None, options: ExtractOptions, html: str
) -> list:
    """Tree-walker strategy (the spec path): parse -> hooks -> styles ->
    recursive walk. ``tokens`` is the minified stream, or None when
    ``options.minify`` is off (raw ``html`` is parsed directly)."""
    if tokens is not None:
        nodes = parse_tokens(tokens)
        # conservative C-speed scan (false positives just run the cheap
        # style collection)
        has_style = _STYLE_SCAN_RE.search(html) is not None
    else:
        nodes = parse_html(html)
        has_style = True  # cheap conservative default off the fast path

    for hook in options.on_document:
        nodes = hook(nodes)

    sheet = _css.Stylesheet()
    if has_style:
        _collect_styles(nodes, sheet)

    walker = _Walker(options, sheet)
    walker.walk_fragment(nodes)
    walker._flush()
    return walker.spans


def _finalize_spans(spans: list, options: ExtractOptions) -> list:
    """Shared tail: boilerplate filters + offset assignment."""
    thr = options.boilerplate_max_link_density
    if thr is not None:
        keep_len = options.boilerplate_min_keep_len
        spans = [
            s
            for s in spans
            if not (
                s[0] == TEXT
                and s[1]
                and len(s[1]) < keep_len
                and s[3] / len(s[1]) > thr
            )
        ]
    dens = options.boilerplate_min_text_density
    if dens is not None:
        keep_len = options.boilerplate_min_keep_len
        spans = [
            s
            for s in spans
            if not (
                s[0] == TEXT
                and s[1]
                and len(s[1]) < keep_len
                and len(s[1]) / (1 + (s[5] if len(s) > 5 else 0)) < dens
            )
        ]
    if options.with_meta:
        return [
            (k, t, r, i, m) for i, (k, t, r, _, m, *_x) in enumerate(spans)
        ]
    return [(k, t, r, i) for i, (k, t, r, _, _m, *_x) in enumerate(spans)]


def assemble_html(in_spans: list) -> str:
    """Input interleaved spans -> one HTML string (FIXTURES.md §1.1):
    text spans concatenate in offset order; image spans appear as
    ``<img src="{media_ref}">`` at their position."""
    parts = []
    for s in sorted(in_spans, key=lambda s: s["offset"]):
        if s["kind"] == "image":
            parts.append(f'<img src="{s["media_ref"]}">')
        else:
            parts.append(s["text"] or "")
    return "".join(parts)


def media_span_handler(walker: "_Walker", node: list) -> None:
    """Built-in U5 tag handler: ``<video>``/``<audio>``/``<embed>``
    elements emit an image-kind span carrying their media reference
    (``src`` attribute, else the first ``<source src>`` child) — the
    interleaved corpus keeps a typed pointer (span meta records the
    real tag) instead of dissolving the element and losing the ref.
    Fallback text inside the element is suppressed, as a browser
    would — but an element with NO resolvable reference dissolves
    like the default fragment path instead (a null-pointer media
    span is useless and losing the fallback text on top of it would
    be strictly worse than doing nothing). Use via
    :func:`with_media_tags`; runs on the tree walker (callable
    handlers route there — ``_stream_eligible``)."""
    tag, attrs, kids = node
    ref = (attrs or {}).get("src") or None
    if not ref:
        for ch in kids:
            if (
                ch[0] == "source"
                and isinstance(ch[1], dict)
                and ch[1].get("src")
            ):
                ref = ch[1]["src"]
                break
    if not ref:
        walker.walk_fragment(kids)
        walker._flush()
        return
    meta = {"tag": tag} if walker.meta_mode else None
    walker.emit(IMAGE, None, ref, meta)


# quote-aware (mirrors _TOKEN_RE): a '>' inside a quoted attribute
# value must not end the tag, or the rewrite would corrupt it and
# re-introduce the sibling-swallowing hazard it exists to prevent
_MEDIA_VOID_RE = _re.compile(
    r"<(source|track|embed)\b((?:\"[^\"]*\"|'[^']*'|[^>\"'])*?)\s*/?>",
    _re.IGNORECASE,
)


def _self_close_media_voids(html: str) -> str:
    """before_parse hook for :func:`with_media_tags`: rewrite
    ``<source>``/``<track>``/``<embed>`` as explicitly self-closed.
    The minify machine keeps the REFERENCE's narrow void set
    (minify.middleware.ts:5-13 — no media voids), so without this a
    ``</video>`` arriving while a ``<source>`` is open re-parents the
    video's real SIBLINGS into its subtree, and a media handler that
    (correctly) skips fallback children would swallow them. The
    explicit ``/>`` makes both token machines treat the tags as void
    without touching default-path parity. Same naive attribute-``>``
    limitation as the tokenizers' fallback."""
    return _MEDIA_VOID_RE.sub(r"<\1\2/>", html)


def with_media_tags(options: ExtractOptions = DEFAULT_OPTIONS) -> ExtractOptions:
    """A copy of ``options`` whose tag_overrides route video/audio/
    embed through :func:`media_span_handler` — the opt-in for
    multimodal corpora that need every media pointer, not just
    images. (The reference's parser knows only ``img`` —
    parser.ts img branch — so this stays off the default path.)
    Also prepends the media-void self-closing hook (see
    :func:`_self_close_media_voids`)."""
    from dataclasses import replace

    overrides = dict(options.tag_overrides)
    for t in ("video", "audio", "embed"):
        overrides.setdefault(t, media_span_handler)
    hooks = options.before_parse
    if _self_close_media_voids not in hooks:
        hooks = (_self_close_media_voids,) + hooks
    return replace(options, tag_overrides=overrides, before_parse=hooks)
