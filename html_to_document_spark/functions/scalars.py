"""Scalar functions (SURVEY.md §2.6 F1/F2/F8/F9), each in two forms:
a pure-python fn (used inside the extraction UDF / tests) and a Column
expression built from Spark built-ins (JVM-side for bulk columns).

Reference cites:
- color normalize: packages/core/src/utils/html.utils.ts:39-59
- css length -> px: packages/core/src/utils/parse.ts:6-28
- image type parse: packages/adapters/docx/src/docx.util.ts:74-102
- html escape: packages/core/src/utils/html.serializer.ts:87-99
"""

from __future__ import annotations

import re

# full CSS named-color table (CSS Color Module Level 4, public spec —
# 148 names incl. gray/grey aliases and rebeccapurple), matching the
# reference's colornames dependency coverage (html.utils.ts:42-48);
# fallback 000000 as in the reference (VERDICT r1 missing #2)
_COLOR_NAMES = {
    "aliceblue": "F0F8FF", "antiquewhite": "FAEBD7", "aqua": "00FFFF",
    "aquamarine": "7FFFD4", "azure": "F0FFFF", "beige": "F5F5DC",
    "bisque": "FFE4C4", "black": "000000", "blanchedalmond": "FFEBCD",
    "blue": "0000FF", "blueviolet": "8A2BE2", "brown": "A52A2A",
    "burlywood": "DEB887", "cadetblue": "5F9EA0", "chartreuse": "7FFF00",
    "chocolate": "D2691E", "coral": "FF7F50", "cornflowerblue": "6495ED",
    "cornsilk": "FFF8DC", "crimson": "DC143C", "cyan": "00FFFF",
    "darkblue": "00008B", "darkcyan": "008B8B", "darkgoldenrod": "B8860B",
    "darkgray": "A9A9A9", "darkgreen": "006400", "darkgrey": "A9A9A9",
    "darkkhaki": "BDB76B", "darkmagenta": "8B008B",
    "darkolivegreen": "556B2F", "darkorange": "FF8C00",
    "darkorchid": "9932CC", "darkred": "8B0000", "darksalmon": "E9967A",
    "darkseagreen": "8FBC8F", "darkslateblue": "483D8B",
    "darkslategray": "2F4F4F", "darkslategrey": "2F4F4F",
    "darkturquoise": "00CED1", "darkviolet": "9400D3", "deeppink": "FF1493",
    "deepskyblue": "00BFFF", "dimgray": "696969", "dimgrey": "696969",
    "dodgerblue": "1E90FF", "firebrick": "B22222", "floralwhite": "FFFAF0",
    "forestgreen": "228B22", "fuchsia": "FF00FF", "gainsboro": "DCDCDC",
    "ghostwhite": "F8F8FF", "gold": "FFD700", "goldenrod": "DAA520",
    "gray": "808080", "green": "008000", "greenyellow": "ADFF2F",
    "grey": "808080", "honeydew": "F0FFF0", "hotpink": "FF69B4",
    "indianred": "CD5C5C", "indigo": "4B0082", "ivory": "FFFFF0",
    "khaki": "F0E68C", "lavender": "E6E6FA", "lavenderblush": "FFF0F5",
    "lawngreen": "7CFC00", "lemonchiffon": "FFFACD", "lightblue": "ADD8E6",
    "lightcoral": "F08080", "lightcyan": "E0FFFF",
    "lightgoldenrodyellow": "FAFAD2", "lightgray": "D3D3D3",
    "lightgreen": "90EE90", "lightgrey": "D3D3D3", "lightpink": "FFB6C1",
    "lightsalmon": "FFA07A", "lightseagreen": "20B2AA",
    "lightskyblue": "87CEFA", "lightslategray": "778899",
    "lightslategrey": "778899", "lightsteelblue": "B0C4DE",
    "lightyellow": "FFFFE0", "lime": "00FF00", "limegreen": "32CD32",
    "linen": "FAF0E6", "magenta": "FF00FF", "maroon": "800000",
    "mediumaquamarine": "66CDAA", "mediumblue": "0000CD",
    "mediumorchid": "BA55D3", "mediumpurple": "9370DB",
    "mediumseagreen": "3CB371", "mediumslateblue": "7B68EE",
    "mediumspringgreen": "00FA9A", "mediumturquoise": "48D1CC",
    "mediumvioletred": "C71585", "midnightblue": "191970",
    "mintcream": "F5FFFA", "mistyrose": "FFE4E1", "moccasin": "FFE4B5",
    "navajowhite": "FFDEAD", "navy": "000080", "oldlace": "FDF5E6",
    "olive": "808000", "olivedrab": "6B8E23", "orange": "FFA500",
    "orangered": "FF4500", "orchid": "DA70D6", "palegoldenrod": "EEE8AA",
    "palegreen": "98FB98", "paleturquoise": "AFEEEE",
    "palevioletred": "DB7093", "papayawhip": "FFEFD5",
    "peachpuff": "FFDAB9", "peru": "CD853F", "pink": "FFC0CB",
    "plum": "DDA0DD", "powderblue": "B0E0E6", "purple": "800080",
    "rebeccapurple": "663399", "red": "FF0000", "rosybrown": "BC8F8F",
    "royalblue": "4169E1", "saddlebrown": "8B4513", "salmon": "FA8072",
    "sandybrown": "F4A460", "seagreen": "2E8B57", "seashell": "FFF5EE",
    "sienna": "A0522D", "silver": "C0C0C0", "skyblue": "87CEEB",
    "slateblue": "6A5ACD", "slategray": "708090", "slategrey": "708090",
    "snow": "FFFAFA", "springgreen": "00FF7F", "steelblue": "4682B4",
    "tan": "D2B48C", "teal": "008080", "thistle": "D8BFD8",
    "tomato": "FF6347", "turquoise": "40E0D0", "violet": "EE82EE",
    "wheat": "F5DEB3", "white": "FFFFFF", "whitesmoke": "F5F5F5",
    "yellow": "FFFF00", "yellowgreen": "9ACD32",
}

_HEX_RE = re.compile(r"^#?([0-9a-fA-F]{6}|[0-9a-fA-F]{3})$")
_LEN_RE = re.compile(r"^\s*(-?\d+(?:\.\d+)?)\s*(px|in|cm|pt)?\s*$")

DPI = 96.0
_PER_INCH = {"in": 1.0, "cm": 2.54}

IMAGE_TYPES = {"png", "jpg", "gif", "bmp", "svg"}


def color_normalize(value: str | None) -> str:
    """hex passthrough (strip '#', upper, 3->6 expand), names via table,
    fallback '000000'."""
    if not value:
        return "000000"
    v = value.strip()
    m = _HEX_RE.match(v)
    if m:
        h = m.group(1).upper()
        if len(h) == 3:
            h = "".join(ch * 2 for ch in h)
        return h
    return _COLOR_NAMES.get(v.lower(), "000000")


def css_len_px(value: str | int | float | None) -> float | None:
    """px/in/cm + bare number -> px at 96 DPI; pt = 1/72 in."""
    if value is None:
        return None
    if isinstance(value, (int, float)):
        return float(value)
    m = _LEN_RE.match(value)
    if not m:
        return None
    n, unit = float(m.group(1)), m.group(2)
    if unit is None or unit == "px":
        return n
    if unit == "pt":
        return n * DPI / 72.0
    return n * DPI / _PER_INCH[unit]


def image_type_parse(ref: str | None) -> str | None:
    """Media type from a data-URI mime or a path suffix:
    jpeg->jpg, svg+xml->svg, whitelist png/jpg/gif/bmp/svg."""
    if not ref:
        return None
    m = re.match(r"^data:image/([a-zA-Z0-9+.-]+)[;,]", ref)
    ext = None
    if m:
        ext = m.group(1).lower()
    else:
        m2 = re.search(r"\.([a-zA-Z0-9]+)(?:[?#].*)?$", ref)
        if m2:
            ext = m2.group(1).lower()
    if ext == "jpeg":
        ext = "jpg"
    elif ext == "svg+xml":
        ext = "svg"
    return ext if ext in IMAGE_TYPES else None


# ---- Column-expression forms (JVM-side) ---------------------------------

def image_type_col(col):
    """CASE-WHEN expression form of image_type_parse for bulk columns."""
    from pyspark.sql import functions as F

    data_uri = F.regexp_extract(col, r"^data:image/([a-zA-Z0-9+.\-]+)[;,]", 1)
    suffix = F.regexp_extract(col, r"\.([a-zA-Z0-9]+)(?:[?#].*)?$", 1)
    raw = F.lower(F.when(data_uri != "", data_uri).otherwise(suffix))
    mapped = (
        F.when(raw == "jpeg", "jpg")
        .when(raw == "svg+xml", "svg")
        .otherwise(raw)
    )
    return F.when(mapped.isin(*sorted(IMAGE_TYPES)), mapped)


def outlinks_col(html_col):
    """All href targets in an HTML column as array<string> (JVM regexp —
    double- or single-quoted attribute values). A crawl pipeline's
    outlink inventory; pair with ``F.explode`` for a link table."""
    from pyspark.sql import functions as F

    return F.concat(
        F.regexp_extract_all(html_col, F.lit(r'href\s*=\s*"([^"]*)"'), F.lit(1)),
        F.regexp_extract_all(html_col, F.lit(r"href\s*=\s*'([^']*)'"), F.lit(1)),
    )


def link_stats_cols(html_col) -> dict:
    """Outlink summary columns: total, distinct, absolute (scheme'd)
    counts — keyed dict so callers can select(**) or subset."""
    from pyspark.sql import functions as F

    links = outlinks_col(html_col)
    return {
        "n_links": F.size(links).cast("long"),
        "n_unique_links": F.size(F.array_distinct(links)).cast("long"),
        "n_absolute_links": F.size(
            F.filter(links, lambda x: x.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"))
        ).cast("long"),
    }
