"""Pre-parse HTML normalization (SURVEY.md §2.2 P1-P3).

Behavioral parity with the reference minify middleware
(/root/reference/packages/core/src/middleware/minify.middleware.ts:29-156),
re-derived from its observable semantics:

1. strip comments ``<!--...-->``
2. tokenize ``(<[^>]+>|[^<]+)`` and build a naive tag tree
   (pop on ANY close tag, push on any non-self-closing open tag;
   void set: br img hr input link meta col)
3. outside ``<pre>``: newlines -> space, whitespace runs -> one space;
   text nodes directly adjacent (same tree level) to a BLOCK tag
   (div p ol ul li) are trimmed: leading run removed when the previous
   sibling is a block tag, trailing run replaced by a SINGLE SPACE when
   the next sibling is a block tag; first/last children of a block (or
   root) container are edge-trimmed fully; whitespace-only text nodes
   are dropped
4. inside ``<pre>``: raw text preserved verbatim
5. finally ``>\\s+<`` -> ``><`` and overall trim

One machine, one spec:

- ``_drive`` is the minify machine: a single loop over the raw regex
  token stream that resolves whitespace inline and delivers the
  minified document through three callbacks. ``stream_extract`` drives
  its span walker with it (no token list, no tree); ``minify_tokens``
  drives it into a list, the CLASSIFIED TOKEN STREAM (text str |
  ("o", tag, raw) | ("c", tag)) that ``dom.parse_tokens`` consumes on
  the tree path; ``minify_html`` is the join of that list and is what
  the reference parity tests pin.
- ``_spec_tokens`` (``_parse_tree`` + ``_emit`` + the list-form
  ``>\\s+<`` pass) is the two-pass executable specification;
  ``tests/test_minify.py`` pins ``minify_tokens`` to it token for token.
- The leaf step. Most tokens of a typical page sit in text-only
  leaves, ``<td>x</td>``, ``<li>x</li>``, ``<p>x</p>``. The
  machine's tokenizer (``_LEAF_RE``, built from ``dom._TAG_BODY``)
  matches such a leaf as one token, and the machine resolves it in one
  step: exactly open, then the text as the first and last child, then
  close, as in the spec's naive tree. It offers the result to a fourth
  sink, ``wleaf``, which may take the leaf whole (the span walker
  appends a span or a table cell without a frame push/pop) or decline
  it; a declined leaf is delivered as open, text, close through the
  other three sinks. ``minify_tokens`` declines every leaf, so the spec
  diff covers the leaf step's whitespace decisions. A leaf whose open
  pushes no frame (a void name, ``/>``) is not a step: the machine
  takes its text as a sibling and its close as the parent's.
"""

from __future__ import annotations

import re

from html_to_document_spark.core.dom import (
    RAWTEXT_ELEMENTS,
    VOID_ELEMENTS,
    _TAG_BODY,
    _TOKEN_RE,
    _parse_attrs,
)

_BLOCK_TAGS = frozenset({"div", "p", "ol", "ul", "li"})
# the reference minifier's own void set (narrower than HTML5's; kept
# identical so whitespace decisions match)
_VOID = frozenset({"br", "img", "hr", "input", "link", "meta", "col"})

_COMMENT_RE = re.compile(r"<!--[\s\S]*?-->")
_CLOSE_RE = re.compile(r"^<\/\s*([a-zA-Z0-9]+)")
# an open tag's full name (group 1, custom elements keep their dashes:
# what the walkers and the token stream see) and, in group 2, the
# reference minifier's name, its leading alphanumeric run: ``<nav-bar>``
# is ``nav`` for the minify block, void and ``<pre>`` decisions
_OPEN_RE = re.compile(r"^<\s*(([a-zA-Z0-9]+)[a-zA-Z0-9-]*)")
_WS_RE = re.compile(r"\s+")
_PRE_SCAN_RE = re.compile(r"<\s*pre", re.IGNORECASE)

# The machine's tokenizer: ``_TOKEN_RE`` with every open tag in group
# 1 and, after it, an optional group 2 that takes the rest of a
# text-only leaf: the text and the ``<`` of the close (the rest of the
# close is matched, not captured). So a match is (open, "", "") for an
# open that is not a leaf, (open, "text<", "") for a leaf and
# ("", "", token) for a text or close token. Every tag is an atomic
# group over ``_TAG_BODY``, so it is exactly the tag token ``_TOKEN_RE``
# finds at that position (the first tag form that matches), and
# ``[^<]*`` is the maximal text token or none: a leaf match spans the
# three tokens the plain tokenizer returns. Whether the close pops the
# leaf (an open that pushes a frame) or its parent (a void or
# self-closed open) is the machine's call, from the open's
# classification.
_LEAF_RE = re.compile(
    r"(<(?!/)(?>%s))(?:([^<]*<)(?=/)(?>%s))?|(%s)"
    % (_TAG_BODY, _TAG_BODY, _TOKEN_RE.pattern)
)


def _parse_tree(html: str) -> list:
    """Token tree: tag node = [minify name, raw, self_closing, children,
    full name]; text = str."""
    root = ["root", "", False, []]
    stack = [root]
    children = root[3]  # stack[-1][3], maintained incrementally (hot loop)
    close_match = _CLOSE_RE.match
    open_match = _OPEN_RE.match
    for token in _TOKEN_RE.findall(html):
        if token[0] == "<":
            c1 = token[1] if len(token) > 1 else ""
            if c1 == "/" or (c1 == " " and close_match(token)):
                if len(stack) > 1:
                    stack.pop()
                    children = stack[-1][3]
            else:
                m = open_match(token)
                name = m.group(1).lower() if m else ""
                tag = m.group(2).lower() if m else ""
                # tokens always end in '>', so '/>' reduces to token[-2]
                self_closing = tag in _VOID or token[-2] == "/"
                node = [tag, token, self_closing, [], name]
                children.append(node)
                if not self_closing:
                    stack.append(node)
                    children = node[3]
        else:
            children.append(token)
    return root[3]


def _collapse(text: str) -> str:
    """newlines -> space, whitespace runs -> single space (fast path
    when the text is already collapsed). Every whitespace character
    other than the plain space is non-printable, so a text that is
    printable and has no double space has nothing to collapse; the
    probe errs only toward running the no-op substitution (control
    characters that are not whitespace)."""
    if "  " in text or not text.isprintable():
        return _WS_RE.sub(" ", text)
    return text


def _emit(nodes: list, parent_tag: str | None, out: list) -> None:
    """The reference _process pass, emitting tokens instead of a string."""
    is_pre = parent_tag == "pre"
    if is_pre:
        for node in nodes:
            if isinstance(node, str):
                out.append(node)  # raw, whitespace preserved
            else:
                tag, raw, self_closing, children, name = node
                out.append(("o", name, raw))
                _emit(children, tag, out)
                if not self_closing:
                    out.append(("c", name))
        return

    # single fused pass: the trim decisions only depend on NEIGHBOR
    # TYPES (tag-vs-text and block-tag membership), never on neighbor
    # text values, so collapse+trim+emit need no intermediate item list
    trim_edges = parent_tag is None or parent_tag in _BLOCK_TAGS
    n = len(nodes)
    last = n - 1
    for i, node in enumerate(nodes):
        if node.__class__ is str:
            t = _collapse(node)
            if i > 0:
                prev = nodes[i - 1]
                if prev.__class__ is not str and prev[0] in _BLOCK_TAGS:
                    t = t.lstrip()
            if i < last:
                nxt = nodes[i + 1]
                if nxt.__class__ is not str and nxt[0] in _BLOCK_TAGS:
                    # post-collapse whitespace is single spaces only
                    if t and t[-1].isspace():
                        t = t.rstrip() + " "
            if trim_edges:
                if i == 0:
                    t = t.lstrip()
                if i == last:
                    t = t.rstrip()
            if t and not t.isspace():  # drop whitespace-only text nodes
                out.append(t)
        else:
            tag, raw, self_closing, children, name = node
            out.append(("o", name, raw))
            _emit(children, tag, out)
            if not self_closing:
                out.append(("c", name))


def _spec_tokens(html: str) -> list:
    """The executable specification of ``minify_tokens``: comment strip
    -> ``_parse_tree`` -> ``_emit`` -> the ``>\\s+<`` pass and overall
    trim, in token space."""
    html = _COMMENT_RE.sub("", html)
    out: list = []
    _emit(_parse_tree(html), None, out)

    # the ">\s+<" pass in token space: remove runs of whitespace-only
    # text tokens flanked by tags on both sides. Only <pre> interiors
    # can still contain such tokens (non-pre _emit drops them and edge-
    # trims the root), so the pass is gated on pre presence (one
    # C-speed regex scan; real pages rarely contain <pre>). _drive
    # applies the same gate to its streaming form of this pass.
    if _PRE_SCAN_RE.search(html) is None:
        return out
    res: list = []
    i, n = 0, len(out)
    while i < n:
        t = out[i]
        if isinstance(t, str) and t.strip() == "":
            j = i
            while j < n and isinstance(out[j], str) and out[j].strip() == "":
                j += 1
            prev_is_tag = bool(res) and not isinstance(res[-1], str)
            next_is_tag = j < n and not isinstance(out[j], str)
            if not (prev_is_tag and next_is_tag):
                res.extend(out[i:j])
            i = j
        else:
            res.append(t)
            i += 1

    # overall trim (string .strip() equivalent on the edges)
    while res and isinstance(res[0], str):
        res[0] = res[0].lstrip()
        if res[0]:
            break
        res.pop(0)
    while res and isinstance(res[-1], str):
        res[-1] = res[-1].rstrip()
        if res[-1]:
            break
        res.pop()
    return res


# ---- the machine -----------------------------------------------------------

# global open-tag classification memo: raw token string ->
#   (tag, block, is_pre, sc_minify, sc_dom, rawtext, attrs)
# Real corpora repeat a tiny vocabulary of SHORT tag tokens ("<p>",
# "<td>", "<td colspan=2>", ...), so regex classification + attr
# parsing amortize to one dict hit. Attr dicts are shared — all
# consumers are read-only.
#
# Policy (learned the hard way): cache ONLY short tokens, with a hard
# size cap and NO clear/refill cycle. Attr-bearing tokens with unique
# urls (every <img src=...> / <a href=...> on a web corpus) never
# repeat — caching them grows the dict with dead strings, and that
# allocation traffic lands exactly on the executor DRAM-bandwidth
# ceiling this memo exists to relieve (measured: an unbounded memo
# REGRESSED local[32] extraction ~2x while local[2] was unaffected).
_TAG_MEMO: dict = {}
_MEMO_MAX_TOKEN = 48
_MEMO_MAX_SIZE = 4096


def _classify_tag(token: str):
    """Classify one open tag token (any tag token not starting ``</``,
    the minify grammar's close rule in ``_parse_tree``): the full tag
    name, the minify decisions on the reference's name (block,
    ``<pre>``, the minify void set ``sc_minify``) plus
    ``dom.parse_tokens``'s void/rawtext/attr derivation on the full
    name, which the span walkers read."""
    m = _OPEN_RE.match(token)
    tag = m.group(1).lower() if m else ""
    mname = m.group(2).lower() if m else ""
    sc_min = mname in _VOID or token[-2] == "/"
    sc_dom = tag in VOID_ELEMENTS or token[-2] == "/"
    rawtext = tag in RAWTEXT_ELEMENTS and not sc_dom
    # attr parse must NOT be gated on a non-empty tag: parse_tokens
    # parses attrs for degenerate tokens like "<<ol style=...>"
    # (tag ''), and the walker's hidden() check reads the style from
    # them — gating on `tag` made the stream keep a subtree the tree
    # drops (found by the r4 extended fuzz)
    attrs = (
        _parse_attrs(token, tag)
        if (" " in token or "=" in token or "\t" in token or "\n" in token)
        else None
    )
    return (tag, mname in _BLOCK_TAGS, mname == "pre", sc_min, sc_dom,
            rawtext, attrs)


def _classify_memo(token: str):
    info = _TAG_MEMO.get(token, False)
    if info is False:
        info = _classify_tag(token)
        if len(token) <= _MEMO_MAX_TOKEN and len(_TAG_MEMO) < _MEMO_MAX_SIZE:
            _TAG_MEMO[token] = info
    return info


def _drive(html: str, wtext, wopen, wclose, wleaf) -> None:
    """The minify machine: comment-free raw HTML -> resolved deliveries
    ``wtext(text)``, ``wopen(tag, raw, attrs, sc_dom, rawtext)`` and
    ``wclose(tag)``, in exactly the order and form of ``_spec_tokens``
    output. One loop over the regex token stream, no token list, no
    tree: ``minify_tokens`` runs it into a list, ``stream_extract`` into
    its span walker and style collector.

    A text-only leaf ``<name ...>text</...>`` (one ``_LEAF_RE`` match
    whose open pushes a frame) is resolved in one step and offered whole
    as ``wleaf(tag, raw, attrs, sc_dom, text)``, with ``text`` the
    resolved text or None when the leaf delivers none. A sink that
    returns True has consumed the leaf; on False the machine delivers
    ``wopen``, ``wtext`` (when text is not None) and ``wclose(tag)``,
    the deliveries of the token-by-token path.

    The only future-dependent decision on a text node is its TRAILING
    treatment (single space before a block sibling; rstrip when last
    child of a trimming parent), so one pending text slot per open
    element suffices. Frames are ``[tag, is_pre, trim_edges,
    is_first_child, last_was_block, pending_text]``; a close tag pops
    ONE frame and is delivered under the opener's tag (the spec's naive
    tree). The <pre> post-pass (whitespace-run removal between tags +
    edge trim) runs as a streaming filter only when the document
    contains <pre>.
    """
    pm = _PRE_SCAN_RE.search(html) is not None
    if not pm:
        out_text = out_ptext = wtext
        finish_filter = None
        buf = state = _flush_buf = None
    else:
        # streaming form of _spec_tokens' post-pass: buffer
        # PRE-INTERIOR raw text tokens; on the next tag (or EOF) drop
        # the buffered run iff it is all-whitespace AND tag-flanked on
        # both sides; apply the leading/trailing edge trim at the ends.
        # Scoped to pre interiors (r5-cont): only raw pre deliveries
        # can be whitespace-only — every machine-processed delivery
        # below is guarded by `t and not t.isspace()` — so buffering
        # processed text was pure overhead (the post-pass is a no-op
        # on it, the same argument as the pre gate above). Processed
        # text goes direct via out_ptext, which still maintains the
        # flank state and flushes any straddling buffered run (a run
        # with text on its right flank is never dropped).
        # state: [last_was_tag, delivered_anything, buf_all_ws]
        buf: list[str] = []
        state = [False, False, True]

        def _flush_buf(next_is_tag: bool) -> None:
            if next_is_tag and state[0] and state[2]:
                buf.clear()
                return
            if not state[1]:
                # leading edge trim: lstrip, drop now-empty from front
                while buf:
                    buf[0] = buf[0].lstrip()
                    if buf[0]:
                        break
                    buf.pop(0)
            for t in buf:
                state[1] = True
                state[0] = False
                wtext(t)
            buf.clear()
            state[2] = True

        def out_text(t: str) -> None:
            if t and not t.isspace():
                state[2] = False
            buf.append(t)

        # one-slot deferral for processed text: the overall trailing
        # edge trim (the spec's final rstrip) must reach the LAST text
        # token of the document even when it was machine-processed
        # (fuzz-caught: a mid-doc pending resolved by a text sibling
        # keeps its trailing space, and root-ignored closes after it
        # deliver nothing), so a processed delivery is held until the
        # next delivery of any kind. pend and buf are mutually
        # exclusive: buf fills only inside pre frames (entering one
        # flushes pend at the <pre> open) and out_ptext flushes buf.
        pend: list = [None]

        def _deliver_pend() -> None:
            t = pend[0]
            pend[0] = None
            if not state[1]:
                # document-leading edge trim (the spec's overall
                # lstrip): fires when NOTHING was delivered yet — the
                # machine's root first-child lstrip misses text whose
                # first-child flag was consumed by a dropped unmatched
                # close (fuzz-caught), exactly like the buffered run's
                # leading trim in _flush_buf
                t = t.lstrip()
                if not t:
                    return
            state[0] = False
            state[1] = True
            wtext(t)

        def out_ptext(t: str) -> None:
            if pend[0] is not None:
                _deliver_pend()
            if buf:
                _flush_buf(False)
            pend[0] = t

        def finish_filter() -> None:
            if pend[0] is not None:
                # overall trailing trim on a deferred processed token;
                # processed text is never whitespace-only (guarded at
                # every call site), so the rstrip always leaves residue
                # and no cascade into earlier tokens is possible
                pend[0] = pend[0].rstrip()
                _deliver_pend()
            # trailing edge trim: rstrip, drop now-empty from the end
            while buf:
                buf[-1] = buf[-1].rstrip()
                if buf[-1]:
                    break
                buf.pop()
            if buf:
                _flush_buf(False)

    # ---- the whitespace machine -----------------------------------------
    frames: list[list] = [[None, False, True, True, False, None]]
    f = frames[0]
    memo_get = _TAG_MEMO.get

    for opn, tail, token in _LEAF_RE.findall(html):
        if opn:
            info = memo_get(opn, False)
            if info is False:
                info = _classify_memo(opn)
            tag, block, is_pre, sc_min, sc_dom, rawtext, attrs = info
            t = f[5]
            if t is not None:  # resolve pending (next_is_block=...)
                f[5] = None
                if block and t and t[-1].isspace():
                    t = t.rstrip() + " "
                if t and not t.isspace():
                    out_ptext(t)
            if pm:
                if pend[0] is not None:
                    _deliver_pend()
                if buf:
                    _flush_buf(True)
                state[0] = True
                state[1] = True
            f[3] = False
            f[4] = block
            if not tail:
                wopen(tag, opn, attrs, sc_dom, rawtext)
                if not sc_min:
                    f = [tag, is_pre, block, True, False, None]
                    frames.append(f)
                continue
            token = tail[:-1]
            if not sc_min:
                # a text-only leaf: its own frame in one step. The text
                # is the first and last child (first-child lstrip and
                # closing rstrip under a trimming tag; raw inside <pre>,
                # where the post-pass drops a whitespace-only run
                # between the two tags), and pend/buf stay empty because
                # the open just flushed them
                if not token:
                    t = None
                elif is_pre:
                    t = None if token.isspace() else token
                else:
                    t = _collapse(token)
                    if block:
                        t = t.strip()
                    if not t or t.isspace():
                        t = None
                if not wleaf(tag, opn, attrs, sc_dom, t):
                    wopen(tag, opn, attrs, sc_dom, rawtext)
                    if t is not None:
                        wtext(t)
                    wclose(tag)
                continue
            # an open that pushes no frame: its text is a sibling, and
            # the close pops the parent
            wopen(tag, opn, attrs, sc_dom, rawtext)
            closing = True
        else:
            closing = token[0] == "<"  # tag tokens here are closes
            if closing:
                token = ""

        if token:
            if f[1]:  # pre interior: raw, whitespace preserved
                out_text(token)
            else:
                tp = f[5]
                if tp is not None:
                    # Adjacent text siblings only happen when a stray
                    # close tag was dropped between them (the regex is
                    # maximal). _emit treats a text node with a TEXT
                    # next-sibling as "no trailing treatment": emit the
                    # earlier one as-is.
                    f[5] = None
                    if tp and not tp.isspace():
                        out_ptext(tp)
                t = _collapse(token)
                if f[4]:  # previous sibling was a block tag
                    t = t.lstrip()
                if f[3] and f[2]:  # first child of a trimming parent
                    t = t.lstrip()
                f[3] = False
                f[4] = False
                f[5] = t

        # close tag: pops ONE frame, delivered under the opener's tag
        if closing and len(frames) > 1:
            t = f[5]
            if t is not None:  # resolve pending (closing=True)
                f[5] = None
                if f[2]:
                    t = t.rstrip()
                if t and not t.isspace():
                    out_ptext(t)
            if pm:
                if pend[0] is not None:
                    _deliver_pend()
                if buf:
                    _flush_buf(True)
                state[0] = True
                state[1] = True
            wclose(f[0])
            frames.pop()
            f = frames[-1]

    # EOF: unclosed elements close here (fixture parser.test.ts:159-169)
    while len(frames) > 1:
        f = frames[-1]
        t = f[5]
        if t is not None:
            f[5] = None
            if f[2]:
                t = t.rstrip()
            if t and not t.isspace():
                out_ptext(t)
        if pm:
            if pend[0] is not None:
                _deliver_pend()
            if buf:
                _flush_buf(True)
            state[0] = True
            state[1] = True
        wclose(f[0])
        frames.pop()
    root = frames[0]
    t = root[5]
    if t is not None:
        root[5] = None
        if root[2]:
            t = t.rstrip()
        if t and not t.isspace():
            out_ptext(t)

    if finish_filter is not None:
        finish_filter()


def _decline_leaf(tag, raw, attrs, sc_dom, text) -> bool:
    """A ``wleaf`` that takes no leaf: the machine delivers open, text
    and close one by one."""
    return False


def minify_tokens(html: str) -> list:
    """Minified document as a classified token stream: ``_drive`` into
    a list (text ``str`` | ``("o", tag, raw)`` | ``("c", tag)``)."""
    if "<!--" in html:
        html = _COMMENT_RE.sub("", html)
    out: list = []
    append = out.append
    _drive(
        html,
        append,
        lambda tag, raw, attrs, sc_dom, rawtext: append(("o", tag, raw)),
        lambda tag: append(("c", tag)),
        _decline_leaf,
    )
    return out


def minify_html(html: str) -> str:
    """String form (parity-tested against the reference minify tests)."""
    parts = []
    for t in minify_tokens(html):
        if isinstance(t, str):
            parts.append(t)
        elif t[0] == "o":
            parts.append(t[2])
        else:
            parts.append(f"</{t[1]}>")
    return "".join(parts)
