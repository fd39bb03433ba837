"""HTML tokenizer + tree builder (SURVEY.md §2.3 T1).

The reference delegates to a browser DOM parser
(/root/reference/packages/core/src/parser.ts:17-22, pluggable via
types.ts:619-625). This engine has no browser: a single-regex tokenizer
feeds a stack-based tree builder that reproduces the handful of
browser behaviors the golden fixtures exercise:

- HTML5 void elements; explicit ``/>`` self-closing
- implied closes: a new ``p``-closing tag closes an open ``<p>``;
  ``li`` closes ``li``; ``tr`` closes ``tr``/``td``/``th``;
  ``td``/``th`` close ``td``/``th``; ``option`` closes ``option``
- unclosed tags close at EOF (fixture parser.test.ts:159-169)
- bare ``<tr>`` inside ``<table>`` is treated as an implied tbody
  section downstream (fixture parser.test.ts:866)
- raw-text elements (``script``/``style``): content captured verbatim
  up to ``</script``/``</style`` (the WHATWG end tag rule), never read
  as tags
- character references decoded in text and attribute values
- one tag grammar (``_TOKEN_RE``, the WHATWG tag-open state): ``<`` +
  an ASCII letter opens an element, ``</`` + one closes it; comments,
  declarations (``<!DOCTYPE html>``), processing instructions and
  ``</`` + anything else are not elements and are dropped, as is a tag
  that never reaches its ``>``; every other ``<`` (``a < 5``, ``<5x>``)
  is text

Nodes are plain tuples/lists (no classes) so per-batch throughput
inside the Arrow UDF stays allocation-light:
    element node: [tag:str, attrs:dict|None, children:list]
    text node:    ("#text", decoded_str)
"""

from __future__ import annotations

import html as _htmllib
import re

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
RAWTEXT_ELEMENTS = frozenset({"script", "style"})

# tags whose open implies closing an open <p> (HTML5 parsing rules subset)
_P_CLOSERS = frozenset(
    "address article aside blockquote div dl fieldset figcaption figure "
    "footer form h1 h2 h3 h4 h5 h6 header hr main nav ol p pre section "
    "table ul".split()
)

# The one tag grammar, the WHATWG tag-open state
# (https://html.spec.whatwg.org/multipage/parsing.html#tag-open-state).
# At a "<":
# - "<" + an ASCII letter is an open tag, "</" + an ASCII letter a
#   close tag. The name is that letter and the letters, digits and
#   dashes after it (group 2); its leading alphanumeric run (group 3)
#   is the reference minifier's name, so ``<nav-bar>`` is ``nav`` for
#   the minify block, void and ``<pre>`` decisions. Group 1 is "/" on
#   a close.
# - "<!", "<?" and "</" + anything else start a comment, a declaration
#   (``<!DOCTYPE html>``), a processing instruction or a bogus comment:
#   not an element. The token matches no group and every consumer
#   drops it, as a stripped comment is dropped: the text on its two
#   sides is one text.
# - A "<" + letter, "/", "!" or "?" that never reaches a ">" runs to
#   the end of the input and is dropped too (the tag-open state's
#   EOF-in-tag and bogus-comment rules).
# - Every other "<" (``a < 5``, ``<5x>``) is text, group 4. A text
#   token is maximal: it runs on over such a "<" to the next tag or
#   dropped token, so a bare "<" never splits a text.
# The tag body is quote-aware: a '>' inside a quoted attribute value
# does not end the tag (ADVICE r1: '<a title="a>b" href="/x">' is ONE
# tag token); an unterminated quote falls back to the first '>'.
_TAG_BODY = r"""[^>"']*(?:(?:"[^"]*"|'[^']*')[^>"']*)*>|[^>]+>"""
# a tag after its "<" or "</": the name's letter, then the body, whose
# first class also takes the rest of the name
_TAG = r"[A-Za-z](?>%s)" % _TAG_BODY
# the name (group 2) and its leading alphanumeric run (group 3), read
# in a lookahead at the start of a tag
_NAME = r"(([A-Za-z][A-Za-z0-9]*)(?:-[A-Za-z0-9-]*)?)"
_NOT_ELEMENT = r"<(?:!--[\s\S]*?-->|[!?/][^>]*>|[A-Za-z/!?][^>]*\Z)"
_TEXT = r"(?:[^<]|<(?![A-Za-z/!?]))[^<]*(?:<(?![A-Za-z/!?])[^<]*)*+"
_TOKEN_RE = re.compile(
    r"<(/?)(?=%s)%s|%s|(%s)" % (_NAME, _TAG, _NOT_ELEMENT, _TEXT)
)
# the end of a script/style element's raw text
_RAWTEXT_END_RE = {
    tag: re.compile(r"</%s(?=[\t\n\f\r />])" % tag, re.IGNORECASE)
    for tag in RAWTEXT_ELEMENTS
}
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>/]+))?"""
)


def _parse_attrs(token: str, tag: str) -> dict | None:
    """Parse attributes out of an open-tag token; values entity-decoded."""
    body = token[1:-1].rstrip("/")
    idx = body.lower().find(tag)
    rest = body[idx + len(tag):]
    if not rest.strip():
        return None
    attrs: dict[str, str] = {}
    for m in _ATTR_RE.finditer(rest):
        name = m.group(1).lower()
        val = m.group(2)
        if val is None:
            attrs[name] = ""
        else:
            if val[:1] in "\"'" and val[-1:] == val[:1]:
                val = val[1:-1]
            attrs[name] = _htmllib.unescape(val) if "&" in val else val
    return attrs or None


def _decode(text: str) -> str:
    return _htmllib.unescape(text) if "&" in text else text


def tokenize(html: str) -> list:
    """Classify raw HTML into the shared token-stream format:
    text ``str`` | ``("o", tag, raw)`` open | ``("c", tag, raw)`` close,
    by ``_TOKEN_RE``. A token that is not an element is dropped, and the
    texts on its two sides come out as one text. The content of a
    ``script``/``style`` element is raw text, as in the WHATWG tokenizer:
    one verbatim text up to ``</script``/``</style`` followed by
    whitespace, ``/`` or ``>`` (or to the end), never read as tags."""
    out: list = []
    texts: list = []  # the pieces of the text being read
    pos = 0
    while pos is not None:
        tokens = _TOKEN_RE.finditer(html, pos)
        pos = None
        for m in tokens:
            slash, name, _, text = m.groups()
            if text is not None:
                texts.append(text)
            elif name is not None:
                if texts:
                    out.append("".join(texts))
                    texts = []
                tag = name.lower()
                raw = m.group()
                out.append(("c" if slash else "o", tag, raw))
                # parse_tokens' rule: "/>" self-closes any element
                if not slash and tag in RAWTEXT_ELEMENTS and raw[-2] != "/":
                    start = m.end()
                    end = _RAWTEXT_END_RE[tag].search(html, start)
                    pos = end.start() if end else len(html)
                    if pos > start:
                        out.append(html[start:pos])
                    break
    if texts:
        out.append("".join(texts))
    return out


def parse_html(html: str) -> list:
    """Parse an HTML string into a list of root-level nodes."""
    return parse_tokens(tokenize(html))


def parse_tokens(tokens: list) -> list:
    """Build the DOM from a classified token stream (from ``tokenize``
    or, on the tree path, ``minify.minify_tokens``)."""
    root = ["#root", None, []]
    stack = [root]  # open element stack
    open_tags = ["#root"]
    children = root[2]  # stack[-1][2], maintained incrementally (hot loop)
    # open <p> elements on the stack: the implied-close check reads this
    # count instead of scanning the whole stack on every block open
    p_open = 0

    i = 0
    n = len(tokens)
    while i < n:
        token = tokens[i]
        i += 1
        if token.__class__ is str:
            children.append(("#text", _decode(token)))
            continue
        tag = token[1]

        if token[0] == "c":
            # well-formed fast path first: the close matches the top of
            # the stack, so the bottom-up `in` scan (the whole stack
            # when the match is innermost) runs only on mismatches
            if open_tags[-1] == tag or tag in open_tags:
                while True:
                    stack.pop()
                    top = open_tags.pop()
                    if top == "p":
                        p_open -= 1
                    if top == tag:
                        break
                children = stack[-1][2]
            # unmatched close tag: ignored (browser behavior)
            continue

        # implied closes before opening this tag
        top = open_tags[-1]
        if p_open and tag in _P_CLOSERS:
            # only when <p> is still open below; close up to and incl. p
            while open_tags[-1] != "p":
                # don't cross structural containers
                if open_tags[-1] in ("#root", "td", "th", "table", "li"):
                    break
                stack.pop()
                open_tags.pop()
            if open_tags[-1] == "p":
                stack.pop()
                open_tags.pop()
                p_open -= 1
            children = stack[-1][2]
            top = open_tags[-1]
        if tag == "li" and top == "li":
            stack.pop()
            open_tags.pop()
            children = stack[-1][2]
        elif tag in ("td", "th") and top in ("td", "th"):
            stack.pop()
            open_tags.pop()
            children = stack[-1][2]
        elif tag == "tr":
            while open_tags[-1] in ("td", "th", "tr"):
                stack.pop()
                open_tags.pop()
            children = stack[-1][2]
        elif tag == "option" and top == "option":
            stack.pop()
            open_tags.pop()
            children = stack[-1][2]

        raw = token[2]
        # fast path: bare tags like <p> / <td> carry no attributes
        attrs = (
            _parse_attrs(raw, tag)
            if (" " in raw or "=" in raw or "\t" in raw or "\n" in raw)
            else None
        )
        node = [tag, attrs, []]
        children.append(node)

        # raw tag tokens always end in '>', so '/>' reduces to raw[-2]
        self_closing = tag in VOID_ELEMENTS or raw[-2] == "/"
        if self_closing:
            continue

        if tag in RAWTEXT_ELEMENTS:
            # collect raw content until the matching close token
            raw_parts = []
            depth = 0
            while i < n:
                t = tokens[i]
                if isinstance(t, str):
                    raw_parts.append(t)
                elif t[0] == "o" and t[1] == tag:
                    depth += 1
                    raw_parts.append(t[2])
                elif t[0] == "c" and t[1] == tag:
                    if depth == 0:
                        i += 1
                        break
                    depth -= 1
                    raw_parts.append(f"</{tag}>")
                else:
                    raw_parts.append(t[2] if t[0] == "o" else f"</{t[1]}>")
                i += 1
            if raw_parts:
                node[2].append(("#text", "".join(raw_parts)))
            continue

        stack.append(node)
        open_tags.append(tag)
        if tag == "p":
            p_open += 1
        children = node[2]

    return root[2]
