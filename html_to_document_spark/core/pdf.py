"""Pure-stdlib PDF text extraction (S6; north-rule "PDF/layout parse").

The reference's PDF deconverter (``packages/deconverters/pdf/src/
pdf.deconverter.ts:23-43``) delegates byte-level parsing to the
``pdf-parse`` library, splits the extracted text on newlines, wraps
each trimmed line in ``<p>…</p>`` and feeds it through the SAME HTML
parser as every other source. This module supplies the byte-level half
from scratch — no third-party PDF library exists in this environment,
and a per-row native library call would not be Arrow-friendly anyway —
so the whole path stays inside the existing ``mapInArrow`` extraction
stage: bytes -> text happens in the same Python worker invocation that
already runs the HTML walker, one fused pass, zero extra shuffles.

Scope (matching what ``pdf-parse`` actually surfaces — TEXT, not
layout): classic xref and xref-stream documents, object streams
(``/Type /ObjStm``), Flate / ASCIIHex / ASCII85 / RunLength / LZW
filters, the page tree, and the content-stream text operators
(BT/ET, Tf, Td, TD, T*, TL, Tm, Tj, TJ, ', "). Glyph decoding uses the
font's /ToUnicode CMap when present (bfchar + bfrange, 1- and 2-byte
codes), else the simple-font /Encoding — named base encodings
(WinAnsi / MacRoman / Standard) and /Differences glyph-name arrays
resolved through an AGL-subset table — else cp1252. Encrypted
documents and
vector/raster layout reconstruction are out of scope — extraction
returns ``""`` rather than raising, the same "malformed input is data,
not an error" policy as the HTML tokenizer.

Line model: a new output line starts on T*, ' and ", on Td/TD with a
vertical component, and on Tm that moves the baseline y. TJ kerning
gaps below -180/1000 em emit a space (the pdf.js heuristic pdf-parse
inherits). Pages are joined with a blank line.

Reading order (``reading_order=True``): each line also records the
text-space (x, y) where its first glyph was placed, or, for a line
without text, where it was broken (Td/TD translate, Tm sets, T*/'/"
subtract the TL leading; BT resets to the origin).
A per-page post-pass detects a multi-column layout — the largest gap
between distinct line-start x values, at least ``_COL_MIN_GAP`` text
units wide, with >= 2 lines per side and >= 50% vertical overlap
between the sides — and emits columns left-to-right, each top-down
(y descending, stream order on ties), recursing once per side so
three-column pages resolve too. Pages that don't qualify (single
column, indented blocks, too few lines) keep stream order EXACTLY,
so the flag is safe to leave on for mixed corpora: it only permutes
output when the draw order provably disagrees with reading order
(e.g. a generator that draws the right text box before the left).
"""

from __future__ import annotations

import re
import zlib

__all__ = ["pdf_to_text", "pdf_text_lines"]


# --------------------------------------------------------------------
# object-level lexer/parser
# --------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")

# sentinel for parse failures (None is a legitimate PDF null)
_BAD = object()


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


class _Lexer:
    """Tokenizer over one PDF byte region (object body or content
    stream). Position-based, no copies of the underlying buffer."""

    def __init__(self, data: bytes, pos: int = 0, end: int | None = None):
        self.data = data
        self.pos = pos
        self.end = len(data) if end is None else end

    def _skip_ws(self) -> None:
        data, end = self.data, self.end
        i = self.pos
        while i < end:
            c = data[i]
            if c in _WS:
                i += 1
            elif c == 0x25:  # % comment to end of line
                j = data.find(b"\n", i, end)
                i = end if j < 0 else j + 1
            else:
                break
        self.pos = i

    def next_value(self):
        """Parse one PDF value. Returns _BAD at region end / on junk."""
        self._skip_ws()
        data, end = self.data, self.end
        i = self.pos
        if i >= end:
            return _BAD
        c = data[i]
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x28:  # (literal string)
            return self._literal_string()
        if c == 0x3C:  # << dict >> or <hex>
            if i + 1 < end and data[i + 1] == 0x3C:
                return self._dict()
            return self._hex_string()
        if c == 0x5B:  # [ array ]
            return self._array()
        if c == 0x5D or c == 0x3E:  # stray ] or >> — consumed by caller
            return _BAD
        m = _NUM_RE.match(data, i, end)
        if m and m.start() == i:
            self.pos = m.end()
            txt = m.group()
            # N G R indirect reference lookahead
            save = self.pos
            self._skip_ws()
            m2 = _NUM_RE.match(data, self.pos, end)
            if m2 and b"." not in txt and not txt.startswith(b"-"):
                gen_end = m2.end()
                j = gen_end
                while j < end and data[j] in _WS:
                    j += 1
                if j < end and data[j : j + 1] == b"R" and (
                    j + 1 >= end or data[j + 1] in _WS or data[j + 1] in _DELIM
                ):
                    self.pos = j + 1
                    return _Ref(int(txt))
            self.pos = save
            return float(txt) if b"." in txt else int(txt)
        # bare keyword: true/false/null or an operator (content streams)
        j = i
        while j < end and data[j] not in _WS and data[j] not in _DELIM:
            j += 1
        if j == i:  # lone delimiter we don't handle: skip it
            self.pos = i + 1
            return _BAD
        word = data[i:j]
        self.pos = j
        if word == b"true":
            return True
        if word == b"false":
            return False
        if word == b"null":
            return None
        return _Kw(word)

    def _name(self) -> "_Name":
        data, end = self.data, self.end
        i = self.pos + 1
        out = bytearray()
        while i < end:
            c = data[i]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and i + 2 < end:  # #xx hex escape
                try:
                    out.append(int(data[i + 1 : i + 3], 16))
                    i += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            i += 1
        self.pos = i
        return _Name(out.decode("latin-1"))

    def _literal_string(self) -> bytes:
        data, end = self.data, self.end
        i = self.pos + 1
        out = bytearray()
        depth = 1
        while i < end:
            c = data[i]
            if c == 0x5C:  # backslash
                if i + 1 >= end:
                    break
                e = data[i + 1]
                if e in b"nrtbf":
                    out.append(b"\n\r\t\b\f"[b"nrtbf".index(e)])
                    i += 2
                elif e in b"()\\":
                    out.append(e)
                    i += 2
                elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                    j = i + 1
                    oct_digits = bytearray()
                    while j < end and len(oct_digits) < 3 and 0x30 <= data[j] <= 0x37:
                        oct_digits.append(data[j])
                        j += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                    i = j
                elif e == 0x0A:  # line continuation
                    i += 2
                elif e == 0x0D:
                    i += 3 if i + 2 < end and data[i + 2] == 0x0A else 2
                else:
                    out.append(e)
                    i += 2
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    i += 1
                    break
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        self.pos = i
        return bytes(out)

    def _hex_string(self) -> bytes:
        data, end = self.data, self.end
        j = data.find(b">", self.pos + 1, end)
        if j < 0:
            j = end
        hx = bytes(
            c for c in data[self.pos + 1 : j] if c not in _WS
        )
        self.pos = j + 1
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except (ValueError, UnicodeDecodeError):
            return b""

    def _array(self) -> list:
        self.pos += 1
        out = []
        data, end = self.data, self.end
        while True:
            self._skip_ws()
            if self.pos >= end:
                break
            if data[self.pos] == 0x5D:
                self.pos += 1
                break
            v = self.next_value()
            if v is _BAD:
                if self.pos < end and data[self.pos] == 0x5D:
                    continue
                break
            out.append(v)
        return out

    def _dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        data, end = self.data, self.end
        while True:
            self._skip_ws()
            if self.pos + 1 < end and data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                break
            if self.pos >= end:
                break
            key = self.next_value()
            if key is _BAD:
                break
            if not isinstance(key, _Name):
                continue  # tolerate junk keys
            val = self.next_value()
            if val is _BAD:
                break
            out[key.name] = val
        return out


class _Name:
    __slots__ = ("name",)

    def __init__(self, name: str) -> None:
        self.name = name

    def __eq__(self, other) -> bool:
        return (
            self.name == other.name
            if isinstance(other, _Name)
            else NotImplemented
        )

    def __hash__(self) -> int:
        return hash(self.name)


class _Kw:
    """Bare keyword token (content-stream operator)."""

    __slots__ = ("word",)

    def __init__(self, word: bytes) -> None:
        self.word = word


# --------------------------------------------------------------------
# stream filters
# --------------------------------------------------------------------


def _lzw_decode(data: bytes) -> bytes:
    """Tiny LZW per the PDF spec (variable 9-12 bit codes, EarlyChange
    default 1). stdlib has no LZW; ~30 lines is cheaper than a dep."""
    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    bits, acc, width = 0, 0, 9
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (acc >> bits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # EarlyChange=1: widen one code early
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
    return bytes(out)


def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """PNG predictors (used by xref/object streams with /Predictor>=10)."""
    bpp = max(1, (colors * bpc) // 8)
    stride = (colors * bpc * columns + 7) // 8
    out = bytearray()
    prev = bytearray(stride)
    i, n = 0, len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + stride])
        i += 1 + stride
        if ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((a + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _apply_filters(doc: "_PdfDoc", sdict: dict, raw: bytes) -> bytes:
    filters = doc.resolve(sdict.get("Filter"))
    if filters is None:
        return raw
    if isinstance(filters, _Name):
        filters = [filters]
    parms = doc.resolve(sdict.get("DecodeParms")) or doc.resolve(
        sdict.get("DP")
    )
    if isinstance(parms, dict) or parms is None:
        parms = [parms] * len(filters)
    data = raw
    for flt, parm in zip(filters, parms):
        name = flt.name if isinstance(flt, _Name) else ""
        try:
            if name in ("FlateDecode", "Fl"):
                data = zlib.decompress(data)
            elif name in ("ASCIIHexDecode", "AHx"):
                hx = bytes(
                    c for c in data.split(b">")[0] if c not in _WS
                )
                if len(hx) % 2:
                    hx += b"0"
                data = bytes.fromhex(hx.decode("ascii"))
            elif name in ("ASCII85Decode", "A85"):
                import base64

                body = data.split(b"~>")[0]
                body = bytes(c for c in body if c not in _WS)
                data = base64.a85decode(body)
            elif name in ("RunLengthDecode", "RL"):
                data = _rl_decode(data)
            elif name in ("LZWDecode", "LZW"):
                data = _lzw_decode(data)
            else:
                return b""  # DCTDecode etc: not text-bearing
        except Exception:
            return b""
        parm = doc.resolve(parm)
        if isinstance(parm, dict):
            pred = doc.resolve(parm.get("Predictor")) or 1
            if isinstance(pred, (int, float)) and pred >= 10:
                data = _png_unpredict(
                    data,
                    int(doc.resolve(parm.get("Colors")) or 1),
                    int(doc.resolve(parm.get("BitsPerComponent")) or 8),
                    int(doc.resolve(parm.get("Columns")) or 1),
                )
    return data


# --------------------------------------------------------------------
# document model
# --------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_RE = re.compile(rb"stream(?:\r\n|\n|\r)")


class _PdfDoc:
    """Scan-based object table. Offsets in the xref are IGNORED by
    design: real crawled PDFs routinely carry broken xrefs, and a
    linear `N G obj` scan both recovers those and is simpler. Later
    definitions of an object number win (incremental-update rule)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.objs: dict[int, tuple[int, int]] = {}  # num -> body span
        self.cache: dict[int, object] = {}
        for m in _OBJ_RE.finditer(data):
            start = m.end()
            end = data.find(b"endobj", start)
            if end < 0:
                end = len(data)
            self.objs[int(m.group(1))] = (start, end)
        self._expand_object_streams()

    # -- object access ------------------------------------------------

    def get(self, num: int):
        if num in self.cache:
            return self.cache[num]
        self.cache[num] = None  # cycle guard
        span = self.objs.get(num)
        if span is None:
            return None
        val = _Lexer(self.data, span[0], span[1]).next_value()
        if val is _BAD:
            val = None
        self.cache[num] = val
        return val

    def resolve(self, val, _depth: int = 0):
        while isinstance(val, _Ref) and _depth < 32:
            val = self.get(val.num)
            _depth += 1
        return val

    def stream_bytes(self, num: int) -> bytes:
        """Decoded stream payload of object ``num`` (b'' if none)."""
        span = self.objs.get(num)
        if span is None:
            return b""
        sdict = self.resolve(self.get(num))
        if not isinstance(sdict, dict):
            return b""
        m = _STREAM_RE.search(self.data, span[0], span[1] + 7)
        if m is None:
            return b""
        start = m.end()
        length = self.resolve(sdict.get("Length"))
        if isinstance(length, (int, float)) and start + int(length) <= len(
            self.data
        ):
            raw = self.data[start : start + int(length)]
            # trust /Length only if endstream actually follows
            tail = self.data[start + int(length) : start + int(length) + 16]
            if b"endstream" not in tail.lstrip(b"\r\n"):
                raw = None
        else:
            raw = None
        if raw is None:  # recover: scan for endstream
            e = self.data.find(b"endstream", start)
            if e < 0:
                return b""
            raw = self.data[start:e].rstrip(b"\r\n")
        return _apply_filters(self, sdict, raw)

    # -- object streams ----------------------------------------------

    def _expand_object_streams(self) -> None:
        """Inline every /Type /ObjStm member into the object table.
        Compressed objects only appear here in xref-stream PDFs."""
        extra: dict[int, bytes] = {}
        for num in list(self.objs):
            d = self.resolve(self.get(num))
            if not (
                isinstance(d, dict)
                and isinstance(d.get("Type"), _Name)
                and d["Type"].name == "ObjStm"
            ):
                continue
            payload = self.stream_bytes(num)
            if not payload:
                continue
            n = self.resolve(d.get("N"))
            first = self.resolve(d.get("First"))
            if not isinstance(n, (int, float)) or not isinstance(
                first, (int, float)
            ):
                continue
            lex = _Lexer(payload, 0, int(first))
            pairs = []
            for _ in range(int(n)):
                onum = lex.next_value()
                off = lex.next_value()
                if not isinstance(onum, int) or not isinstance(off, int):
                    break
                pairs.append((onum, off))
            for idx, (onum, off) in enumerate(pairs):
                end = (
                    pairs[idx + 1][1]
                    if idx + 1 < len(pairs)
                    else len(payload) - int(first)
                )
                extra[onum] = payload[int(first) + off : int(first) + end]
        if extra:
            # append member bodies to the buffer so spans stay uniform
            blob = bytearray(self.data)
            for onum, body in extra.items():
                if onum in self.objs:
                    continue  # top-level definition wins
                start = len(blob)
                blob += body
                self.objs[onum] = (start, len(blob))
            self.data = bytes(blob)

    # -- page tree ----------------------------------------------------

    def pages(self) -> list[dict]:
        root = None
        # find the LAST trailer/Root (incremental updates)
        for m in re.finditer(rb"/Root\s+(\d+)\s+\d+\s+R", self.data):
            root = int(m.group(1))
        kids_out: list[dict] = []
        pages_node = None
        if root is not None:
            cat = self.resolve(self.get(root))
            if isinstance(cat, dict):
                pages_node = self.resolve(cat.get("Pages"))

        def walk(node, depth: int = 0) -> None:
            if not isinstance(node, dict) or depth > 64:
                return
            t = node.get("Type")
            tname = t.name if isinstance(t, _Name) else ""
            if tname == "Page":
                kids_out.append(node)
                return
            kids = self.resolve(node.get("Kids"))
            if isinstance(kids, list):
                for kid in kids:
                    walk(self.resolve(kid), depth + 1)

        walk(pages_node)
        if kids_out:
            return kids_out
        # fallback for broken catalogs: every /Type /Page in scan order
        for num in sorted(self.objs):
            d = self.resolve(self.get(num))
            if (
                isinstance(d, dict)
                and isinstance(d.get("Type"), _Name)
                and d["Type"].name == "Page"
            ):
                kids_out.append(d)
        return kids_out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        refs: list[_Ref] = []
        if isinstance(contents, _Ref):
            refs = [contents]
        elif isinstance(page.get("Contents"), _Ref):
            refs = [page["Contents"]]
        if isinstance(contents, list):
            refs = [r for r in contents if isinstance(r, _Ref)]
        elif not refs and isinstance(contents, dict):
            # direct stream dict: only reachable via a ref in practice
            refs = []
        parts = [self.stream_bytes(r.num) for r in refs]
        return b"\n".join(p for p in parts if p)

    def page_fonts(self, page: dict) -> dict[str, "_Font"]:
        res = self.resolve(page.get("Resources"))
        return self._fonts_of(res)

    def _fonts_of(self, res) -> dict[str, "_Font"]:
        if not isinstance(res, dict):
            return {}
        fonts = self.resolve(res.get("Font"))
        if not isinstance(fonts, dict):
            return {}
        out = {}
        for fname, fref in fonts.items():
            fd = self.resolve(fref)
            if isinstance(fd, dict):
                out[fname] = _Font(self, fd)
        return out

    def page_xobjects(self, page: dict) -> dict[str, int]:
        res = self.resolve(page.get("Resources"))
        return self._xobjects_of(res)

    def _xobjects_of(self, res) -> dict[str, int]:
        """name -> object number of the /XObject resources (Form
        subtype filtering happens at Do time)."""
        if not isinstance(res, dict):
            return {}
        xo = self.resolve(res.get("XObject"))
        if not isinstance(xo, dict):
            return {}
        return {
            name: ref.num
            for name, ref in xo.items()
            if isinstance(ref, _Ref)
        }

    def form_resources(
        self, xdict: dict, parent_fonts: dict, parent_xobjects: dict
    ) -> tuple[dict, dict]:
        """A Form XObject's own /Resources, falling back to the
        invoking context's (the spec's inheritance rule)."""
        res = self.resolve(xdict.get("Resources"))
        fonts = self._fonts_of(res) or parent_fonts
        xobjects = self._xobjects_of(res) or parent_xobjects
        return fonts, xobjects


# --------------------------------------------------------------------
# fonts / ToUnicode / simple-font encodings
# --------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _build_glyph_table() -> dict[str, str]:
    """Glyph-name -> unicode for the AGL subset crawled PDFs actually
    use in /Differences arrays (pdf.js ships the full Adobe Glyph List;
    this is the working subset: ASCII names, Latin-1 signs, typographic
    punctuation, ligatures, and every base-letter+accent composition
    NFC can form). Names outside the table fall through to the uniXXXX
    / uXXXX[XX] conventions and then to U+FFFD."""
    t = {
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&",
        "quotesingle": "'", "parenleft": "(", "parenright": ")",
        "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
        "period": ".", "slash": "/", "colon": ":", "semicolon": ";",
        "less": "<", "equal": "=", "greater": ">", "question": "?",
        "at": "@", "bracketleft": "[", "backslash": "\\",
        "bracketright": "]", "asciicircum": "^", "underscore": "_",
        "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
        "asciitilde": "~",
        "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
        "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
        "exclamdown": "¡", "cent": "¢", "sterling": "£",
        "currency": "¤", "yen": "¥", "brokenbar": "¦",
        "section": "§", "dieresis": "¨", "copyright": "©",
        "ordfeminine": "ª", "guillemotleft": "«",
        "logicalnot": "¬", "registered": "®",
        "macron": "¯", "degree": "°", "plusminus": "±",
        "acute": "´", "mu": "µ", "paragraph": "¶",
        "periodcentered": "·", "cedilla": "¸",
        "ordmasculine": "º", "guillemotright": "»",
        "onequarter": "¼", "onehalf": "½",
        "threequarters": "¾", "questiondown": "¿",
        "multiply": "×", "divide": "÷",
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—", "bullet": "•",
        "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
        "perthousand": "‰", "guilsinglleft": "‹",
        "guilsinglright": "›", "fraction": "⁄",
        "trademark": "™", "minus": "−", "florin": "ƒ",
        "Euro": "€", "euro": "€",
        "fi": "ﬁ", "fl": "ﬂ",
        "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
        "Oslash": "Ø", "oslash": "ø", "Eth": "Ð",
        "eth": "ð", "Thorn": "Þ", "thorn": "þ",
        "germandbls": "ß", "Lslash": "Ł", "lslash": "ł",
        "dotlessi": "ı", "Ydieresis": "Ÿ",
        "breve": "˘", "caron": "ˇ", "circumflex": "ˆ",
        "dotaccent": "˙", "hungarumlaut": "˝",
        "ogonek": "˛", "ring": "˚", "tilde": "˜",
    }
    for ch in (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    ):
        t[ch] = ch
    import unicodedata

    combining = {
        "grave": "̀", "acute": "́", "circumflex": "̂",
        "tilde": "̃", "macron": "̄", "breve": "̆",
        "dotaccent": "̇", "dieresis": "̈", "ring": "̊",
        "hungarumlaut": "̋", "caron": "̌",
        "cedilla": "̧", "ogonek": "̨",
    }
    for base in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
        for acc, comb in combining.items():
            composed = unicodedata.normalize("NFC", base + comb)
            if len(composed) == 1:
                t.setdefault(base + acc, composed)
    return t


_GLYPH_TO_UNI = _build_glyph_table()


def _glyph_unicode(name: str) -> str:
    g = _GLYPH_TO_UNI.get(name)
    if g is not None:
        return g
    if name.startswith("uni") and len(name) >= 7:
        try:
            cp = int(name[3:7], 16)
        except ValueError:
            return "�"
        # lone UTF-16 surrogates are not encodable text — a hostile
        # /Differences [.. /uniD800] would otherwise crash the first
        # Arrow/parquet boundary downstream ("malformed input is
        # data, not an error")
        return "�" if 0xD800 <= cp <= 0xDFFF else chr(cp)
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            cp = int(name[1:], 16)
        except ValueError:
            return "�"
        if 0xD800 <= cp <= 0xDFFF or cp > 0x10FFFF:
            return "�"
        return chr(cp)
    return "�"


# Adobe StandardEncoding's non-ASCII slots, as glyph names (the ASCII
# range is identity except 0x27 quoteright / 0x60 quoteleft).
_STANDARD_HIGH = {
    0xA1: "exclamdown", 0xA2: "cent", 0xA3: "sterling", 0xA4: "fraction",
    0xA5: "yen", 0xA6: "florin", 0xA7: "section", 0xA8: "currency",
    0xA9: "quotesingle", 0xAA: "quotedblleft", 0xAB: "guillemotleft",
    0xAC: "guilsinglleft", 0xAD: "guilsinglright", 0xAE: "fi", 0xAF: "fl",
    0xB1: "endash", 0xB2: "dagger", 0xB3: "daggerdbl",
    0xB4: "periodcentered", 0xB6: "paragraph", 0xB7: "bullet",
    0xB8: "quotesinglbase", 0xB9: "quotedblbase", 0xBA: "quotedblright",
    0xBB: "guillemotright", 0xBC: "ellipsis", 0xBD: "perthousand",
    0xBF: "questiondown", 0xC1: "grave", 0xC2: "acute",
    0xC3: "circumflex", 0xC4: "tilde", 0xC5: "macron", 0xC6: "breve",
    0xC7: "dotaccent", 0xC8: "dieresis", 0xCA: "ring", 0xCB: "cedilla",
    0xCD: "hungarumlaut", 0xCE: "ogonek", 0xCF: "caron", 0xD0: "emdash",
    0xE1: "AE", 0xE3: "ordfeminine", 0xE8: "Lslash", 0xE9: "Oslash",
    0xEA: "OE", 0xEB: "ordmasculine", 0xF1: "ae", 0xF5: "dotlessi",
    0xF8: "lslash", 0xF9: "oslash", 0xFA: "oe", 0xFB: "germandbls",
}

_BASE_TABLE_CACHE: dict[str, tuple[str, ...]] = {}


def _base_encoding_table(name: str) -> tuple[str, ...]:
    """256-entry code -> text table for a named simple-font base
    encoding. Unknown names fall back to WinAnsi (== cp1252, the
    pre-existing default)."""
    cached = _BASE_TABLE_CACHE.get(name)
    if cached is not None:
        return cached
    if name == "MacRomanEncoding":
        table = [
            bytes([i]).decode("mac_roman", errors="replace")
            for i in range(256)
        ]
        # PDF Annex D MacRomanEncoding defines 0xDB as /currency
        # (U+00A4); Python's mac_roman codec follows Mac OS 8.5+,
        # which replaced it with the euro. pdf.js sides with Annex D,
        # so crawled-PDF parity does too.
        table[0xDB] = "¤"
    elif name == "StandardEncoding":
        table = ["�"] * 256
        for i in range(0x20, 0x7F):
            table[i] = chr(i)
        table[0x27] = "’"
        table[0x60] = "‘"
        for code, glyph in _STANDARD_HIGH.items():
            table[code] = _glyph_unicode(glyph)
    else:  # WinAnsiEncoding / PDFDocEncoding / unknown
        table = [
            bytes([i]).decode("cp1252", errors="replace")
            for i in range(256)
        ]
    out = tuple(table)
    _BASE_TABLE_CACHE[name] = out
    return out


class _Font:
    """Code -> text decoding for one font: ToUnicode CMap when
    present; else the simple-font /Encoding (named base encodings
    WinAnsi / MacRoman / Standard, and /Differences glyph-name
    overrides — the pdf.js behavior the reference inherits through
    pdf-parse, ``pdf.deconverter.ts:23-43``); else cp1252. Type0
    fonts read 2-byte codes."""

    def __init__(self, doc: _PdfDoc, fd: dict) -> None:
        sub = fd.get("Subtype")
        self.two_byte = isinstance(sub, _Name) and sub.name == "Type0"
        self.cmap: dict[int, str] = {}
        self.enc_table: tuple[str, ...] | list[str] | None = None
        tu = fd.get("ToUnicode")
        if isinstance(tu, _Ref):
            payload = doc.stream_bytes(tu.num)
            if payload:
                self._parse_cmap(payload)
        if not self.two_byte:
            enc = doc.resolve(fd.get("Encoding"))
            if isinstance(enc, _Name):
                if enc.name != "WinAnsiEncoding":  # WinAnsi == default
                    self.enc_table = _base_encoding_table(enc.name)
            elif isinstance(enc, dict):
                base = enc.get("BaseEncoding")
                table = list(_base_encoding_table(
                    base.name if isinstance(base, _Name)
                    else "WinAnsiEncoding"
                ))
                diffs = doc.resolve(enc.get("Differences"))
                if isinstance(diffs, list):
                    code = 0
                    for item in diffs:
                        if isinstance(item, (int, float)):
                            code = int(item)
                        elif isinstance(item, _Name):
                            if 0 <= code <= 255:
                                table[code] = _glyph_unicode(item.name)
                            code += 1
                self.enc_table = table

    def _parse_cmap(self, payload: bytes) -> None:
        code_lens = set()
        for m in _BFCHAR_RE.finditer(payload):
            hexes = _HEX_RE.findall(m.group(1))
            for i in range(0, len(hexes) - 1, 2):
                src, dst = hexes[i], hexes[i + 1]
                code_lens.add(len(src) // 2)
                self.cmap[int(src, 16)] = self._u(dst)
        for m in _BFRANGE_RE.finditer(payload):
            body = m.group(1)
            # two forms: <lo> <hi> <dst>  |  <lo> <hi> [<d1> <d2> ...]
            for rm in re.finditer(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                rb"(<[0-9A-Fa-f]+>|\[[^\]]*\])",
                body,
            ):
                lo, hi = int(rm.group(1), 16), int(rm.group(2), 16)
                code_lens.add(len(rm.group(1)) // 2)
                dst = rm.group(3)
                if dst.startswith(b"["):
                    dsts = _HEX_RE.findall(dst)
                    for off, d in enumerate(dsts):
                        if lo + off <= hi:
                            self.cmap[lo + off] = self._u(d)
                else:
                    base = int(dst[1:-1], 16)
                    for off in range(min(hi - lo + 1, 65536)):
                        self.cmap[lo + off] = self._u_scalar(base + off)
        if 2 in code_lens and 1 not in code_lens:
            self.two_byte = True

    @staticmethod
    def _u(hx: bytes) -> str:
        try:
            return bytes.fromhex(hx.decode("ascii")).decode(
                "utf-16-be", errors="ignore"
            )
        except (ValueError, UnicodeDecodeError):
            return ""

    @staticmethod
    def _u_scalar(cp: int) -> str:
        try:
            return chr(cp)
        except ValueError:
            return ""

    def decode(self, raw: bytes) -> str:
        if not self.cmap and not self.two_byte:
            if self.enc_table is not None:
                table = self.enc_table
                return "".join(table[b] for b in raw)
            return raw.decode("cp1252", errors="replace")
        step = 2 if self.two_byte else 1
        out = []
        for i in range(0, len(raw) - step + 1, step):
            code = int.from_bytes(raw[i : i + step], "big")
            if code in self.cmap:
                out.append(self.cmap[code])
            elif step == 1:
                if self.enc_table is not None:
                    out.append(self.enc_table[code])
                else:
                    out.append(
                        raw[i : i + 1].decode("cp1252", errors="replace")
                    )
            else:
                out.append("�")
        return "".join(out)


_DEFAULT_FONT = _Font.__new__(_Font)
_DEFAULT_FONT.two_byte = False
_DEFAULT_FONT.cmap = {}
_DEFAULT_FONT.enc_table = None


# --------------------------------------------------------------------
# content-stream text interpreter
# --------------------------------------------------------------------

_TJ_SPACE_GAP = -180.0  # thousandths of an em (pdf.js word-gap heuristic)

# end of inline-image data: EI preceded by whitespace/start, followed
# by whitespace, a delimiter (legal keyword terminators — '(after)'
# can abut EI directly), or stream end. Precompiled and searched
# in-place via pos/endpos so k inline images cost O(n), not O(k*n)
# tail copies.
_EI_RE = re.compile(
    rb"(?:^|[\x00\t\n\x0c\r ])EI(?=$|[\x00\t\n\x0c\r ()<>\[\]{}/%])"
)


def _page_lines(
    content: bytes,
    fonts: dict[str, _Font],
    *,
    doc: "_PdfDoc | None" = None,
    xobjects: dict | None = None,
    depth: int = 0,
    sink: dict | None = None,
    init_font: "_Font | None" = None,
    with_pos: bool = False,
) -> list:
    """Interpret one content stream. ``doc``/``xobjects`` enable Form
    XObject recursion (the ``Do`` operator — real-world PDFs routinely
    put body text inside forms); ``sink`` shares the line state across
    that recursion so a form's text lands in reading order, and
    ``init_font`` carries the invoking context's active font (forms
    inherit the graphics state — a form that never issues Tf must
    decode with the caller's font, spec 8.10)."""
    top = sink is None
    if sink is None:
        sink = {
            "lines": [], "cur": [], "started": False,
            "pos": [], "cur_pos": (0.0, 0.0),
        }
    lex = _Lexer(content)
    stack: list = []
    font = init_font if init_font is not None else _DEFAULT_FONT
    cur_y: float | None = None
    # text-space line position for the reading-order post-pass: BT
    # resets to the origin, Td/TD translate, Tm sets absolutely,
    # T*/'/" move down by the TL leading. Approximate (no CTM/rotation
    # math — upright text, the crawl-corpus case), and only CONSULTED
    # when a column split qualifies, so the approximation can't perturb
    # single-column output.
    pos = [0.0, 0.0]
    leading = [0.0]

    def here() -> tuple:
        # Form XObject text positions are FORM-LOCAL (the Do operator's
        # cm placement is not interpreted), so a form-drawn line records
        # an unknown position; any unknown on a page disables the
        # reading-order pass for that page (conservative: never permute
        # on coordinates that might be in a different space).
        return (pos[0], pos[1]) if depth == 0 else (None, None)

    def newline() -> None:
        if not sink["started"] and not sink["cur"]:
            return
        sink["lines"].append("".join(sink["cur"]))
        # a line without text records where it was broken
        sink["pos"].append(sink["cur_pos"] if sink["cur"] else here())
        sink["cur"] = []

    def emit(raw) -> None:
        if isinstance(raw, bytes):
            if not sink["cur"]:
                sink["cur_pos"] = here()
            sink["started"] = True
            sink["cur"].append(font.decode(raw))

    while True:
        v = lex.next_value()
        if v is _BAD:
            if lex.pos >= lex.end:
                break
            continue
        if not isinstance(v, _Kw):
            stack.append(v)
            if len(stack) > 64:
                del stack[:-16]
            continue
        op = v.word
        if op == b"Tj":
            if stack:
                emit(stack[-1])
        elif op == b"TJ":
            if stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        emit(item)
                    elif (
                        isinstance(item, (int, float))
                        and item < _TJ_SPACE_GAP
                        and sink["cur"]
                        and not sink["cur"][-1].endswith(" ")
                    ):
                        sink["cur"].append(" ")
        elif op in (b"'", b'"'):
            newline()
            pos[1] -= leading[0]
            if stack:
                emit(stack[-1])
        elif op == b"T*":
            newline()
            pos[1] -= leading[0]
        elif op in (b"Td", b"TD"):
            if len(stack) >= 2 and isinstance(stack[-1], (int, float)):
                if stack[-1] != 0:
                    newline()
                if isinstance(stack[-2], (int, float)):
                    pos[0] += float(stack[-2])
                pos[1] += float(stack[-1])
                if op == b"TD":
                    leading[0] = -float(stack[-1])
        elif op == b"TL":
            if stack and isinstance(stack[-1], (int, float)):
                leading[0] = float(stack[-1])
        elif op == b"Tm":
            if len(stack) >= 6 and isinstance(stack[-1], (int, float)):
                y = float(stack[-1])
                if cur_y is not None and abs(y - cur_y) > 1e-6:
                    newline()
                cur_y = y
                if isinstance(stack[-2], (int, float)):
                    pos[0] = float(stack[-2])
                pos[1] = y
        elif op == b"Tf":
            if len(stack) >= 2 and isinstance(stack[-2], _Name):
                font = fonts.get(stack[-2].name, _DEFAULT_FONT)
        elif op == b"BT":
            cur_y = None
            pos[0] = pos[1] = 0.0
        elif op == b"BI":
            # inline image: raw binary follows ID up to the delimited
            # EI — must NOT reach the lexer (its bytes can resemble
            # string/operator tokens and leak garbage text)
            m = _EI_RE.search(lex.data, lex.pos, lex.end)
            lex.pos = lex.end if m is None else m.end()
        elif op == b"Do":
            if (
                doc is not None
                and xobjects
                and depth < 8
                and stack
                and isinstance(stack[-1], _Name)
            ):
                num = xobjects.get(stack[-1].name)
                xdict = doc.resolve(doc.get(num)) if num is not None else None
                if isinstance(xdict, dict):
                    st = xdict.get("Subtype")
                    if isinstance(st, _Name) and st.name == "Form":
                        sub = doc.stream_bytes(num)
                        if sub:
                            xf, xx = doc.form_resources(
                                xdict, fonts, xobjects
                            )
                            _page_lines(
                                sub, xf, doc=doc, xobjects=xx,
                                depth=depth + 1, sink=sink,
                                init_font=font,
                            )
        elif op == b"ET":
            pass
        stack.clear()
    if top:
        if sink["cur"]:
            sink["lines"].append("".join(sink["cur"]))
            sink["pos"].append(sink["cur_pos"])
        if with_pos:
            return [
                (x, y, text)
                for (x, y), text in zip(sink["pos"], sink["lines"])
            ]
        return sink["lines"]
    return sink["lines"]


# --------------------------------------------------------------------
# reading-order post-pass (multi-column pages)
# --------------------------------------------------------------------

# minimum x gap (text-space units ~ points) between the rightmost line
# start of one column and the leftmost of the next. Real two-column
# gutters on US-Letter/A4 put column starts ~230-300pt apart; paragraph
# indents and block quotes sit well under 100.
_COL_MIN_GAP = 100.0


def _column_split(recs: list, idx: list, depth: int) -> list:
    """Recursively split ``idx`` (indices into stream-ordered ``recs``
    of (x, y, text)) at the largest qualifying x gap; columns emit
    left-to-right, each y-descending (stream order on ties). Any
    failed check returns ``idx`` UNCHANGED — the pass only permutes
    when the layout evidence is unambiguous."""
    xs = sorted({recs[i][0] for i in idx})
    if depth >= 2 or len(xs) < 2:
        if depth == 0:
            return idx  # single column at top level: stream order
        return sorted(idx, key=lambda i: (-recs[i][1], i))
    gap, split_x = 0.0, None
    for a, b in zip(xs, xs[1:]):
        if b - a > gap:
            gap, split_x = b - a, b
    if gap < _COL_MIN_GAP:
        if depth == 0:
            return idx
        return sorted(idx, key=lambda i: (-recs[i][1], i))
    left = [i for i in idx if recs[i][0] < split_x]
    right = [i for i in idx if recs[i][0] >= split_x]
    if len(left) < 2 or len(right) < 2:
        return idx
    ly = [recs[i][1] for i in left]
    ry = [recs[i][1] for i in right]
    overlap = min(max(ly), max(ry)) - max(min(ly), min(ry))
    span = min(max(ly) - min(ly), max(ry) - min(ry))
    if span <= 0.0 or overlap < 0.5 * span:
        return idx
    return (
        _column_split(recs, left, depth + 1)
        + _column_split(recs, right, depth + 1)
    )


def _reading_order(recs: list) -> list[str]:
    """Stream-ordered (x, y, text) records -> text lines in reading
    order. Pages with fewer than 4 lines can't evidence a 2x2 column
    layout and keep stream order; so does any page containing a line
    with an UNKNOWN position (text drawn inside a Form XObject —
    its coordinates are form-local, and a mixed page could otherwise
    false-split into columns that don't exist on paper)."""
    if len(recs) < 4 or any(r[0] is None for r in recs):
        return [r[2] for r in recs]
    return [recs[i][2] for i in _column_split(recs, list(range(len(recs))), 0)]


# --------------------------------------------------------------------
# public API
# --------------------------------------------------------------------


def pdf_text_lines(data: bytes, *, reading_order: bool = False) -> list[str]:
    """Extract text lines from PDF bytes; [] on anything non-PDF or
    undecodable (encrypted, image-only, corrupt). With
    ``reading_order=True``, multi-column pages are re-ordered column
    by column (see module docstring); single-column pages are
    byte-identical to the default."""
    if not isinstance(data, (bytes, bytearray)) or b"%PDF" not in data[:1024]:
        return []
    # encrypted documents are out of scope: string/stream bytes would
    # decode to RC4/AES garbage, which is worse corpus data than
    # nothing. (Trailer-pattern scan; a content string containing the
    # same bytes is a tolerable false positive on a crawl corpus.)
    if re.search(rb"/Encrypt\s+\d+\s+\d+\s+R", bytes(data)):
        return []
    try:
        doc = _PdfDoc(bytes(data))
        out: list[str] = []
        for page in doc.pages():
            content = doc.page_content(page)
            if not content:
                continue
            if out:
                out.append("")  # blank line between pages
            lines = _page_lines(
                content,
                doc.page_fonts(page),
                doc=doc,
                xobjects=doc.page_xobjects(page),
                with_pos=reading_order,
            )
            out.extend(_reading_order(lines) if reading_order else lines)
        return out
    except Exception:
        return []


def pdf_to_text(data: bytes, *, reading_order: bool = False) -> str:
    """The pdf-parse-shaped surface: one newline-joined text string."""
    return "\n".join(pdf_text_lines(data, reading_order=reading_order))
