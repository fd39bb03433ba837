"""C11 @page normalization + P5 legacy middleware adapter.

Reference parity: docx.adapter.ts:396-483 (normalizePageRules),
docx.adapter.ts:65-107 (size maps), parse.ts:22-69 (lengthToTwips),
converter.ts:207-244 (resolvePlugins/middlewareToPlugin).
"""

from __future__ import annotations

import pytest

from html_to_document_spark.core.extract import (
    DEFAULT_OPTIONS,
    ExtractOptions,
    extract_document,
    resolve_plugins,
)
from html_to_document_spark.core.page import (
    CODE_SIZES,
    TWIPS_PER_MM,
    length_to_twips,
    normalize_page_rules,
    page_setup_from_css,
    parse_page_rules,
)


# ------------------------------------------------------------------
# length_to_twips (parse.ts:22-69 parity)
# ------------------------------------------------------------------

@pytest.mark.parametrize("value,expected", [
    ("1in", 1440), ("2cm", 1134), ("3mm", 170), ("4px", 60),
    ("12pt", 240), ("1pc", 240), ("1.5in", 2160),
    ("10", 150),            # unitless = px
    ("2em", 480), ("2rem", 480),
    ("50%", 120),           # (50/100) * 16px * 15
    ("-1in", -1440),
    ("bogus", None), ("", None), (None, None), ("1vw", None),
])
def test_length_to_twips(value, expected):
    assert length_to_twips(value) == expected


def test_length_to_twips_unitless_none():
    assert length_to_twips("10", unitless="none") is None
    assert length_to_twips(10, unitless="none") is None
    assert length_to_twips(10) == 150


# ------------------------------------------------------------------
# margin shorthand expansion
# ------------------------------------------------------------------

def _norm(css):
    return page_setup_from_css(css)


def test_margin_one_value():
    n = _norm("@page { margin: 1in }")
    assert [n["margin_top"], n["margin_right"],
            n["margin_bottom"], n["margin_left"]] == [1440] * 4


def test_margin_two_values():
    n = _norm("@page { margin: 1in 2cm }")
    assert (n["margin_top"], n["margin_bottom"]) == (1440, 1440)
    assert (n["margin_right"], n["margin_left"]) == (1134, 1134)


def test_margin_three_values():
    n = _norm("@page { margin: 1in 2cm 3mm }")
    assert n["margin_top"] == 1440
    assert n["margin_right"] == n["margin_left"] == 1134
    assert n["margin_bottom"] == 170


def test_margin_four_values():
    n = _norm("@page { margin: 1in 2cm 3mm 4px }")
    assert [n["margin_top"], n["margin_right"],
            n["margin_bottom"], n["margin_left"]] == [1440, 1134, 170, 60]


def test_margin_invalid_token_occupies_slot():
    # reference quirk: the failed token maps to undefined but still
    # holds its position in the 1-4 expansion
    n = _norm("@page { margin: 1in bogus }")
    assert (n["margin_top"], n["margin_bottom"]) == (1440, 1440)
    assert n["margin_right"] is None and n["margin_left"] is None


def test_margin_sides_override_shorthand():
    n = _norm("@page { margin: 1in; margin-left: 0in }")
    assert n["margin_left"] == 0  # JS-truthy "0in" string overrides
    assert n["margin_top"] == 1440


# ------------------------------------------------------------------
# size normalization
# ------------------------------------------------------------------

def test_size_named_a4():
    n = _norm("@page { size: A4 }")
    assert n["size"] == {"kind": "code", "code": 9,
                         "width": 11906, "height": 16838}
    assert "orientation" not in n


def test_size_named_case_sensitive():
    # the reference's map lookup is case-sensitive: 'a4' misses the
    # named branch, fails length parsing, and yields NO size
    assert "size" not in _norm("@page { size: a4 }")
    assert _norm("@page { size: letter }")["size"]["code"] == 1


def test_size_named_with_orientation():
    n = _norm("@page { size: A4 landscape }")
    assert n["size"]["code"] == 9
    assert n["orientation"] == "landscape"


def test_size_explicit():
    n = _norm("@page { size: 8.5in 11in }")
    assert n["size"] == {"kind": "explicit", "width": 12240,
                         "height": 15840}


def test_size_explicit_single_value_is_square():
    n = _norm("@page { size: 4in }")
    assert n["size"] == {"kind": "explicit", "width": 5760,
                         "height": 5760}


def test_size_explicit_orientation_token_voids_it():
    # reference quirk: the orientation token is only honored in the
    # NAMED branch; in the explicit branch it lands in the height
    # slot, fails length parsing, and voids the size entirely
    assert "size" not in _norm("@page { size: 5in landscape }")


def test_size_zero_width_voids_it():
    # JS truthiness: 0 twips is falsy in `if (width && height)`
    assert "size" not in _norm("@page { size: 0in 4in }")


def test_b_series_dims_unrounded():
    # the reference rounds only the A-series mm products
    assert CODE_SIZES[12][0] == 257 * TWIPS_PER_MM
    assert CODE_SIZES[9] == (11906, 16838)


# ------------------------------------------------------------------
# rule merge + parsing
# ------------------------------------------------------------------

def test_multiple_rules_merge_in_order():
    n = _norm("@page { margin: 1in; size: A4 } @page { margin: 2in }")
    assert n["margin_top"] == 2880
    assert n["size"]["code"] == 9


def test_pseudo_selector_and_nested_margin_boxes():
    css = """
    body { color: red }
    @page :first { margin: 1in; @top-center { content: "x" } }
    """
    rules = parse_page_rules(css)
    assert rules == [{"margin": "1in"}]
    assert normalize_page_rules(rules)["margin_top"] == 1440


def test_no_page_rules():
    assert page_setup_from_css("body { color: red }") == {}
    assert page_setup_from_css(None) == {}
    assert page_setup_from_css("") == {}


# ------------------------------------------------------------------
# P5: resolve_plugins / middleware adapter (converter.ts:207-244)
# ------------------------------------------------------------------

def test_middleware_runs_after_plugins_in_order():
    calls = []

    def plugin_hook(html):
        calls.append("plugin")
        return html.replace("AAA", "BBB")

    def mw1(html):
        calls.append("mw1")
        return html.replace("BBB", "CCC")

    def mw2(html):
        calls.append("mw2")
        return html.replace("CCC", "DDD")

    opts = resolve_plugins(plugins=(plugin_hook,), middleware=(mw1, mw2))
    spans = extract_document("<p>AAA</p>", opts)
    assert calls == ["plugin", "mw1", "mw2"]
    assert [s[1] for s in spans] == ["DDD"]


def test_default_plugin_is_string_minify():
    seen = {}

    def mw(html):
        seen["html"] = html
        return html

    # defaults enabled: the middleware sees MINIFIED html (reference
    # ordering — minify is the first beforeParse plugin)
    extract_document("<p>  a   b  </p><!-- c -->",
                     resolve_plugins(middleware=(mw,)))
    assert seen["html"] == "<p>a b</p>"
    # clear_middleware=True => enableDefaultPlugins defaults to False
    extract_document("<p>  a   b  </p>",
                     resolve_plugins(middleware=(mw,),
                                     clear_middleware=True))
    assert "  a   b  " in seen["html"]
    # ... and the extraction itself does not minify either
    html = "<p>Line 1\n\n\nLine 2</p>"
    unminified = extract_document(html, ExtractOptions(minify=False))
    assert unminified == [("text", "Line 1\n\n\nLine 2", None, 0)]
    for opts in (resolve_plugins(clear_middleware=True),
                 resolve_plugins(enable_default_plugins=False)):
        assert extract_document(html, opts) == unminified


def test_resolved_options_match_plain_extraction():
    html = "<h1>t</h1><p>body text</p>"
    assert extract_document(html, resolve_plugins()) == \
        extract_document(html, DEFAULT_OPTIONS)


def test_three_phase_plugin_mapping():
    def after(spans):
        return [(s[0], s[1].upper(), *s[2:]) if s[0] == "text"
                else s for s in spans]

    opts = resolve_plugins(plugins=({"after_parse": after},))
    spans = extract_document("<p>abc</p>", opts)
    assert [s[1] for s in spans] == ["ABC"]


def test_unrecognized_plugin_raises():
    with pytest.raises(TypeError):
        resolve_plugins(plugins=({"bogus_phase": lambda x: x},))


def test_base_options_preserved():
    base = ExtractOptions(with_meta=True)
    opts = resolve_plugins(middleware=(lambda h: h,), base=base)
    assert opts.with_meta is True
    assert len(opts.before_parse) == 2  # minify_html + middleware
