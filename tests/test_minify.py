"""Minify parity tests — cases re-expressed from the reference's
minify.middleware.test.ts:4-96 (same inputs, same expected strings)."""

import pytest

from html_to_document_spark.core.minify import (
    _spec_tokens,
    minify_html,
    minify_tokens,
)

CASES = [
    ("<div><!-- comment -->Hello</div>", "<div>Hello</div>"),
    ("<pre>Hello\r\nWorld</pre>", "<pre>Hello\r\nWorld</pre>"),
    ("<pre>Hello\n    \n    World</pre>", "<pre>Hello\n    \n    World</pre>"),
    (
        "<div><span>Hello </span><span>World</span><span> We</span><span> Here</span></div>",
        "<div><span>Hello </span><span>World</span><span> We</span><span> Here</span></div>",
    ),
    (
        """<ol>
                    <li>awej</li>
                    <li>awew</li>
                    <li>rw</li>
                    </ol>
                    <ul>
                    <li>Hello
                    <ul>
                    <li>There</li>
                    </ul>
                    </li>
                    <li>My <span style="color: #b96ad9;">world is</span> here
                    <ul>
                    <li>Also <strong>ther</strong>
                    <ul>
                    <li><strong>What else? </strong>Is <strong>There?</strong></li>
                    </ul>
                    </li>
                    </ul>
                    </li>
                    </ul>""",
        '<ol><li>awej</li><li>awew</li><li>rw</li></ol><ul><li>Hello <ul>'
        '<li>There</li></ul></li><li>My <span style="color: #b96ad9;">world is'
        "</span> here <ul><li>Also <strong>ther</strong><ul><li><strong>"
        "What else? </strong>Is <strong>There?</strong></li></ul></li></ul>"
        "</li></ul>",
    ),
    (
        '<p style="font-weight:bold" data-custom="x">\n      <span style="color: red;">Hello\n'
        '        <span style="color: green;">Green World</span>\n      </span>World</p>',
        '<p style="font-weight:bold" data-custom="x"><span style="color: red;">'
        'Hello <span style="color: green;">Green World</span></span>World</p>',
    ),
    ("<div>\nHello\r\nWorld</div>", "<div>Hello World</div>"),
    ("<div> </div>   <span>text</span>", "<div></div><span>text</span>"),
    ("<p>   Lots     of    space   </p>", "<p>Lots of space</p>"),
    ("   <div>content</div>   ", "<div>content</div>"),
    # stray root-level close tags: both texts around the dropped token
    # must survive (ADVICE r2 high — the single-pass machine used to
    # overwrite the pending slot and lose the first one); they are one
    # text node, so the whitespace run across the drop is one space
    ("<p>keep</p>lost</p>more", "<p>keep</p>lostmore"),
    ("<div>x</div>y</div>z", "<div>x</div>yz"),
    ("a</span>b</div>c", "abc"),
    ("<p>k</p> lost </p> more ", "<p>k</p>lost more"),
]


@pytest.mark.parametrize("html,expected", CASES, ids=range(len(CASES)))
def test_minify(html, expected):
    assert minify_html(html) == expected


# regression: whitespace beyond \n\r\t and double-space must collapse
# (JS /\s+/ semantics — \f, \v, NBSP, unicode spaces; ADVICE r1)
EXOTIC_WS_CASES = [
    ("<p>a\fb</p>", "<p>a b</p>"),
    ("<p>a\vb</p>", "<p>a b</p>"),
    ("<p>a\xa0\xa0b</p>", "<p>a b</p>"),
    ("<p>a b</p>", "<p>a b</p>"),
]


@pytest.mark.parametrize("html,expected", EXOTIC_WS_CASES, ids=range(len(EXOTIC_WS_CASES)))
def test_minify_exotic_whitespace(html, expected):
    assert minify_html(html) == expected


def test_minify_quoted_gt_in_attribute():
    """A '>' inside a quoted attribute value does not end the tag."""
    assert (
        minify_html('<div title="a>b">  c  </div>')
        == '<div title="a>b">c</div>'
    )


@pytest.mark.parametrize("html,expected", CASES + EXOTIC_WS_CASES, ids=lambda x: None)
def test_stream_minify_matches_tree_form(html, expected):
    """The streaming machine (``_drive`` into a list) must be
    token-identical to the two-pass tree form, the executable spec:
    comment strip, ``_parse_tree``, ``_emit`` and the ``>\\s+<``
    post-pass."""
    assert minify_tokens(html) == _spec_tokens(html)


def test_stream_minify_matches_tree_form_on_walker_cases():
    """Every hand-written walker case: both span walkers read the
    machine, so the walker lockstep suite cannot catch a machine fault."""
    from tests.test_stream_extract import CASES as WALKER_CASES

    for html in WALKER_CASES:
        assert minify_tokens(html) == _spec_tokens(html), html


FUZZ_PIECES = [
    "<div>", "</div>", "<p>", "</p>", "<span>", "</span>",
    "<li>", "</li>", "<ul>", "</ul>", "<pre>", "</pre>",
    "<br/>", "x", " y ", "  ", "a b", "\nz\n", "t", "\t",
    "<!-- c -->", "<script>", "</script>", "<style>", "</style>",
    "<a href='/u v'>", "</a>", '<img src="i.png">', "< 5",
    # not tags: a bare "<" and a digit-led name are text; a space-led
    # close, a declaration and a processing instruction are dropped;
    # "a<b" is a tag when a later piece brings a '>', else it runs to
    # the end of the input and is dropped
    "a<b", "<5x>", "< p>", "</ p>", "<!DOCTYPE html>",
    '<?xml version="1.0"?>',
] + [
    # text-only leaves, which the machine resolves in one step: names
    # whose open pushes no frame (void by the name rule of
    # dom._TOKEN_RE, so "<img_x>" is an img, or self-closed),
    # mismatched closes, empty,
    # whitespace-only and <pre> leaves, rawtext names, entities, a
    # quoted '>' and attributes
    "<br>x</br>", "<BR>x</BR>", "<img_x>a</b>", "<p/>x</p>",
    "<P>x</p>", "<p>x</b>", "<p></p>", "<p> </p>", "<p>\n \t</p>",
    "<span> a  b </span>", "<li> q </li>", "<pre> </pre>",
    "<pre>\n \n</pre>", "<pre> r </pre>", "<script>s</script>",
    "<style>b{}</style>", "<p>a &amp; b</p>", '<a title="a>b">t</a>',
    "<td colspan=2>c</td>", "<p class=x style='color:red' id=i>v</p>",
    "<colgroup>g</colgroup>", "<col>g</col>", "<p>u</ p>",
    # custom elements: minify decides on the reference's name ("p",
    # "pre", "br"), the tokens carry the full one
    "<p-x>", "</p-x>", "<nav-bar>", "</nav-bar>", "<pre-x> a </pre-x>",
    "<br-x>x</br-x>", "<li-x> q </li-x>",
]


def test_custom_element_names():
    """The tokens name a custom element in full, while the block, void
    and ``<pre>`` decisions use the reference minifier's name, its
    leading alphanumeric run (``<p-x>`` is a block ``p``, ``<pre-x>``
    keeps its whitespace, ``<br-x>`` pushes no frame)."""
    assert minify_tokens("<div> a <p-x> b </p-x> c </div>") == [
        ("o", "div", "<div>"), "a ", ("o", "p-x", "<p-x>"), "b",
        ("c", "p-x"), "c", ("c", "div"),
    ]
    html = "<pre-x>  r  </pre-x><br-x> t </br-x><li-x> u </li-x>"
    assert minify_tokens(html) == [
        ("o", "pre-x", "<pre-x>"), "  r  ", ("c", "pre-x"),
        ("o", "br-x", "<br-x>"), " t ", ("o", "li-x", "<li-x>"), "u",
        ("c", "li-x"),
    ]
    assert minify_html("<nav-bar class=n>m</nav-bar>") == (
        "<nav-bar class=n>m</nav-bar>")


def test_stream_minify_fuzz_matches_tree_form():
    """Differential fuzz: random docs with STRAY CLOSE TAGS, nesting,
    whitespace, <pre>, comments, rawtext pairs and attributes — the
    machine must match the spec token for token (ADVICE r2 high:
    1116/20000 mismatches in an earlier single-pass form)."""
    import random

    rng = random.Random(0xC0FFEE)
    for _ in range(3000):
        doc = "".join(
            rng.choice(FUZZ_PIECES) for _ in range(rng.randint(1, 14))
        )
        assert minify_tokens(doc) == _spec_tokens(doc), doc


def _fuzz_docs(seed, n):
    import random

    rng = random.Random(seed)
    for _ in range(n):
        yield "".join(
            rng.choice(FUZZ_PIECES) for _ in range(rng.randint(1, 14))
        )


def text_outside_markup(html):
    """The characters of ``html`` outside tags, comments and
    declarations, by a character scan written apart from
    ``dom._TOKEN_RE``. Comments go first, as in minify's first step.
    Then at a "<", a letter (or "/" + letter) starts a tag that ends at
    the first '>' outside quotes (the first '>' when a quote never
    closes), "<!--" a comment, "<!", "<?" and "</" a declaration that
    ends at the next '>'; markup with no '>' runs to the end. Every
    other "<" is text."""
    import re

    html = re.sub("<!--.*?-->", "", html, flags=re.S)
    out = []
    i, n = 0, len(html)
    while i < n:
        c = html[i]
        if c != "<":
            out.append(c)
            i += 1
            continue
        nxt = html[i + 1:i + 2]
        after = html[i + 2:i + 3] if nxt == "/" else nxt
        if nxt != "/" and not (nxt.isascii() and nxt.isalpha()) and (
                nxt not in ("!", "?")):
            out.append(c)
            i += 1
            continue
        end = -1
        if html.startswith("<!--", i):
            end = html.find("-->", i + 4)
            end = end + 3 if end >= 0 else -1
        elif after.isascii() and after.isalpha():
            j = i + 1
            while j < n and html[j] != ">":
                if html[j] in "\"'":
                    k = html.find(html[j], j + 1)
                    if k < 0:
                        break
                    j = k
                j += 1
            if j < n and html[j] == ">":
                end = j + 1
        if end < 0:
            end = html.find(">", i + 1)
            end = n if end < 0 else end + 1
        i = end
    return "".join(out)


def _no_ws(text):
    return "".join(text.split())


MALFORMED_CASES = [
    ("<p>a > 5 and b < 3</p>", "<p>a > 5 and b < 3</p>"),
    ("a < 5", "a < 5"),
    ("  </a> x", "x"),
    ("x </a>  ", "x"),
    ("<p>if a < 5 then</p><p>next</p>", "<p>if a < 5 then</p><p>next</p>"),
    ("<p>a <5x>b</5x> c</p>", "<p>a <5x>b c</p>"),
    ("<p>u</ p>v", "<p>uv</p>"),
    ("< p>t", "< p>t"),
    ("<!DOCTYPE html>\n  hello <p>x</p>", "hello <p>x</p>"),
    ('<?xml version="1.0"?><!DOCTYPE html><html><p>x</p></html>',
     "<html><p>x</p></html>"),
    ("<p>a <!DOCTYPE x>  b</p>", "<p>a b</p>"),
    ("<p>x</p>y<b", "<p>x</p>y"),
    ("<<b>t</b>", "<<b>t</b>"),
]


@pytest.mark.parametrize("html,expected", MALFORMED_CASES,
                         ids=range(len(MALFORMED_CASES)))
def test_minify_malformed_markup(html, expected):
    """One tag grammar: a "<" that starts no tag is text, a declaration
    or a space-led close is dropped, and the document edges are trimmed
    with or without ``<pre>``."""
    assert minify_html(html) == expected
    assert minify_tokens(html) == _spec_tokens(html)


def test_minify_is_idempotent():
    """``resolve_plugins`` minifies before the hooks and again in the
    fused pass, so minify must map its own output to itself, also on
    stray closes, bare "<", declarations and ``<pre>``."""
    for doc in _fuzz_docs(0x1DE4, 30000):
        once = minify_html(doc)
        assert minify_html(once) == once, doc


def test_minify_is_lossless():
    """Every non-whitespace character outside tags, comments and
    declarations survives into ``minify_html``, and no DOCTYPE page
    gains the ``</>`` of a nameless tag."""
    for doc in _fuzz_docs(0x10551E55, 30000):
        out = minify_html(doc)
        assert _no_ws(text_outside_markup(out)) == _no_ws(
            text_outside_markup(doc)), doc
        assert "</>" not in minify_html("<!DOCTYPE html>\n" + doc), doc


def test_no_nameless_tags():
    """No token of the minify machine or of ``dom.tokenize`` is an open
    or a close with the name ''."""
    from html_to_document_spark.core.dom import tokenize

    for doc in _fuzz_docs(0x4E4D, 30000):
        for tok in minify_tokens(doc) + tokenize(doc):
            assert tok.__class__ is str or tok[1], (doc, tok)


def _best_seconds(f, html):
    import time

    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        f(html)
        best = min(best, time.perf_counter() - start)
    return best


@pytest.mark.parametrize("lead,piece", [
    ("", "x<1"),  # bare "<": one text token
    ("", "xxxx</b>"),  # root-level closes: one text node of many pieces
    ("<pre>", "xxxx<!y>"),  # declarations inside <pre>
], ids=["bare-lt", "stray-close", "pre-decl"])
def test_hostile_text_is_linear(lead, piece):
    """A page of dropped tokens or bare "<" takes time linear in its
    size on every consumer of the tag grammar: four times the page
    takes about four times as long (a quadratic join of the text pieces
    reads about 11 times at these sizes, 1 MB for the large page)."""
    from html_to_document_spark.core.dom import tokenize
    from html_to_document_spark.core.extract import (
        ExtractOptions,
        extract_document,
    )
    from html_to_document_spark.core.shard import split_document

    n = 256_000 // len(piece)
    small, large = lead + piece * n, lead + piece * (4 * n)
    for f in (minify_html, _spec_tokens, tokenize, extract_document,
              lambda h: extract_document(h, ExtractOptions(minify=False)),
              lambda h: split_document(h, 64 * 1024)):
        assert _best_seconds(f, large) < 8 * _best_seconds(f, small) + 0.05, f


def test_collapse_fast_path_parity():
    """_collapse's printable/double-space probe must give the same
    result as always substituting: Python \\s includes \\x1c-\\x1f,
    which JS \\s lacks, and the Unicode spaces (NBSP, U+2000-U+200A,
    U+2028/U+2029, U+3000) as well."""
    import random

    from html_to_document_spark.core.minify import _WS_RE, _collapse

    rng = random.Random(7)
    chars = ([chr(c) for c in range(0, 128)] + [" ", " ", "é"]
             + ["\x85", "\xa0", "\u1680", "\u2003", "\u200b", "\u2028",
                "\u2029", "\u202f", "\u3000", "\ufeff"])
    for _ in range(20000):
        t = "".join(rng.choices(chars, k=rng.randint(0, 8)))
        assert _collapse(t) == _WS_RE.sub(" ", t), repr(t)
