"""Pre-parse HTML normalization (SURVEY.md §2.2 P1-P3).

Behavioral parity with the reference minify middleware
(/root/reference/packages/core/src/middleware/minify.middleware.ts:29-156),
re-derived from its observable semantics:

1. strip comments ``<!--...-->``
2. tokenize ``(<[^>]+>|[^<]+)`` and build a naive tag tree
   (pop on ANY close tag, push on any non-self-closing open tag;
   void set: br img hr input link meta col). This engine tokenizes
   with ``dom._TOKEN_RE`` instead, the tag grammar of the DOM the
   reference ends in: a ``<`` that does not start a tag is text, and a
   declaration such as ``<!DOCTYPE html>`` is dropped like a comment,
   so the texts on its two sides are one text node
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
  minified document through three callbacks. Its tokenizer,
  ``_LEAF_RE``, is built from the pieces of ``dom._TOKEN_RE``, so the
  machine, the spec and ``dom.tokenize`` read one open/close/text
  rule. ``stream_extract`` drives its span walker with it (no token
  list, no tree); ``minify_tokens`` drives it into a list, the
  CLASSIFIED TOKEN STREAM (text str | ("o", tag, raw) | ("c", tag))
  that ``dom.parse_tokens`` consumes on the tree path; ``minify_html``
  is the join of that list and is what the reference parity tests pin.
- ``_spec_tokens`` (``_parse_tree`` + ``_emit`` + the list-form
  ``>\\s+<`` pass) is the two-pass executable specification;
  ``tests/test_minify.py`` pins ``minify_tokens`` to it token for token.
- The leaf step. Most tokens of a typical page sit in text-only
  leaves, ``<td>x</td>``, ``<li>x</li>``, ``<p>x</p>``. The machine's
  tokenizer matches such a leaf as one token, and the machine resolves
  it in one step: exactly open, then the text as the first and last
  child, then close, as in the spec's naive tree. It offers the result
  to a fourth sink, ``wleaf``, which may take the leaf whole (the span
  walker appends a span or a table cell without a frame push/pop) or
  decline it; a declined leaf is delivered as open, text, close through
  the other three sinks. ``minify_tokens`` declines every leaf, so the
  spec diff covers the leaf step's whitespace decisions. A leaf whose
  open pushes no frame (a void name, ``/>``) is not a step: the machine
  takes its text as a sibling and its close as the parent's.
"""

from __future__ import annotations

import re

from html_to_document_spark.core.dom import (
    RAWTEXT_ELEMENTS,
    VOID_ELEMENTS,
    _NOT_ELEMENT,
    _TAG,
    _TEXT,
    _TOKEN_RE,
    _parse_attrs,
)

_BLOCK_TAGS = frozenset({"div", "p", "ol", "ul", "li"})
# the reference minifier's own void set (narrower than HTML5's; kept
# identical so whitespace decisions match)
_VOID = frozenset({"br", "img", "hr", "input", "link", "meta", "col"})

_COMMENT_RE = re.compile(r"<!--[\s\S]*?-->")
_WS_RE = re.compile(r"\s+")

# The machine's tokenizer: ``dom._TOKEN_RE``'s grammar with every open
# tag in group 1 and, after it, an optional group 2 that takes the rest
# of a text-only leaf: the text and the ``<`` of the close (the rest of
# the close is matched, not captured). Group 3 is "/" on a close and
# group 4 a text; a token that is not an element matches no group. So a
# match is (open, "", "", "") for an open that is not a leaf, (open,
# "text<", "", "") for a leaf, ("", "", "/", "") for a close, ("", "",
# "", text) for a text and all "" for a dropped token. Every tag is
# ``dom._TAG``, its name's letter and an atomic body, so it is exactly
# the tag token ``_TOKEN_RE`` finds at that position, and ``[^<]*`` is
# the maximal text token or none: a leaf match spans the three tokens
# the plain tokenizer returns. Whether the close pops the leaf (an open
# that pushes a frame) or its parent (a void or self-closed open) is
# the machine's call, from the open's classification.
_LEAF_RE = re.compile(
    r"(<%s)(?:([^<]*<)/%s)?|<(/)%s|%s|(%s)"
    % (_TAG, _TAG, _TAG, _NOT_ELEMENT, _TEXT)
)


def _parse_tree(html: str) -> list:
    """Token tree: tag node = [minify name, raw, self_closing, children,
    full name]; text = str. Texts with only a dropped token between
    them (a root-level close, a declaration) are one text node."""
    root = ["root", "", False, []]
    stack = [root]
    children = root[3]  # stack[-1][3], maintained incrementally (hot loop)
    texts: list = []  # the pieces of the text being read
    for m in _TOKEN_RE.finditer(html):
        slash, name, mname, text = m.groups()
        if text is not None:
            texts.append(text)
            continue
        if name is None or (slash and len(stack) == 1):
            continue  # not an element, or a root-level close: dropped
        if texts:
            children.append("".join(texts))
            texts = []
        if slash:
            stack.pop()
            children = stack[-1][3]
        else:
            token = m.group()
            tag = mname.lower()
            # tokens always end in '>', so '/>' reduces to token[-2]
            self_closing = tag in _VOID or token[-2] == "/"
            node = [tag, token, self_closing, [], name.lower()]
            children.append(node)
            if not self_closing:
                stack.append(node)
                children = node[3]
    if texts:
        children.append("".join(texts))
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
    # text tokens flanked by tags on both sides
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
    """Classify one open tag token, reading its names from its
    ``_TOKEN_RE`` match: the full tag name, the minify decisions on the
    reference's name (block, ``<pre>``, the minify void set
    ``sc_minify``) plus ``dom.parse_tokens``'s void/rawtext/attr
    derivation on the full name, which the span walkers read."""
    m = _TOKEN_RE.match(token)
    tag = m.group(2).lower()
    mname = m.group(3).lower()
    sc_min = mname in _VOID or token[-2] == "/"
    sc_dom = tag in VOID_ELEMENTS or token[-2] == "/"
    rawtext = tag in RAWTEXT_ELEMENTS and not sc_dom
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
    tree). A text with only a dropped token (a root-level close, a
    declaration) between it and the pending text joins it: one node,
    held as a list of pieces (``_join_text``) until delivery.

    The spec's ``>\\s+<`` pass and overall trim need no step here.
    Every text node inside ``<pre>`` has a tag on both sides, so the
    pass removes exactly its whitespace-only ones, which the machine
    never delivers; and the document's edge texts are the root's first
    and last children, which the root frame trims.
    """
    frames: list[list] = [[None, False, True, True, False, None]]
    f = frames[0]
    memo_get = _TAG_MEMO.get

    for opn, tail, closing, token in _LEAF_RE.findall(html):
        if opn:
            info = memo_get(opn, False)
            if info is False:
                info = _classify_memo(opn)
            tag, block, is_pre, sc_min, sc_dom, rawtext, attrs = info
            t = f[5]
            if t is not None:  # resolve pending (next_is_block=...)
                f[5] = None
                if t.__class__ is list:
                    t = "".join(t)
                if block and not f[1] and t and t[-1].isspace():
                    t = t.rstrip() + " "
                if t and not t.isspace():
                    wtext(t)
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
                # where a whitespace-only text is not delivered), and
                # the pending slot is empty because the open just
                # resolved it
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
        elif not (closing or token):
            continue  # not an element: dropped

        if token:
            tp = f[5]
            if tp is not None:  # a text after a dropped token
                f[5] = _join_text(tp, token, f[1])
            elif f[1]:  # pre interior: raw, whitespace preserved
                f[5] = token
            else:
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
                if t.__class__ is list:
                    t = "".join(t)
                if f[2]:
                    t = t.rstrip()
                if t and not t.isspace():
                    wtext(t)
            wclose(f[0])
            frames.pop()
            f = frames[-1]

    # EOF: unclosed elements close here (fixture parser.test.ts:159-169)
    while len(frames) > 1:
        f = frames.pop()
        t = f[5]
        if t is not None:
            if t.__class__ is list:
                t = "".join(t)
            if f[2]:
                t = t.rstrip()
            if t and not t.isspace():
                wtext(t)
        wclose(f[0])
    t = frames[0][5]
    if t is not None:
        if t.__class__ is list:
            t = "".join(t)
        t = t.rstrip()  # the root trims its edges
        if t:
            wtext(t)


def _join_text(tp, token: str, is_pre: bool) -> list:
    """A text after a dropped token (a root-level close, a declaration)
    joins the pending text ``tp``: one text node. Its pieces collect in
    a list that the machine joins once, on delivery, so a page of
    dropped tokens stays linear. Outside ``<pre>`` each piece is
    collapsed, the pieces hold no empty string, and one whitespace run
    spans the join."""
    pieces = tp if tp.__class__ is list else [tp] if tp else []
    if is_pre:
        pieces.append(token)
        return pieces
    t = _collapse(token)
    if not pieces:
        # the pending text was all leading whitespace that an lstrip
        # took, which now reaches into this one
        t = t.lstrip()
    elif pieces[-1][-1] == " " and t[:1] == " ":
        t = t[1:]
    if t:
        pieces.append(t)
    return pieces


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
