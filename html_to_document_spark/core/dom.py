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
  until the matching close tag
- character references decoded in text and attribute values

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

# quote-aware tag token: a '>' inside a quoted attribute value does not
# end the tag (ADVICE r1 — '<a title="a>b" href="/x">' is ONE tag token).
# Falls back to the naive '<[^>]+>' form for malformed/unterminated
# quotes so degenerate inputs keep their old tokenization.
_TAG_BODY = r"""[^>"']*(?:(?:"[^"]*"|'[^']*')[^>"']*)*>|[^>]+>"""
_TOKEN_RE = re.compile(r"<(?:%s)|[^<]+" % _TAG_BODY)
_TAG_NAME_RE = re.compile(r"^<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9-]*)")
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
    text ``str`` | ``("o", tag, raw)`` open | ``("c", tag)`` close.
    Malformed tag tokens (e.g. ``"< 5"``) classify as text."""
    out: list = []
    for token in _TOKEN_RE.findall(html):
        if token[0] != "<":
            out.append(token)
            continue
        m = _TAG_NAME_RE.match(token)
        if m is None:
            out.append(token)
        elif m.group(1) == "/":
            out.append(("c", m.group(2).lower(), token))
        else:
            out.append(("o", m.group(2).lower(), token))
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
