"""Content-stream interpreter: text ops → positioned text runs + media refs.

From-scratch replacement for poppler's text device (the reference's
``pdftohtml -xml`` output consumed at PDFExtract.java:644-728). Executes the
PDF text operators (BT/ET Tf Td TD TL Tm T* Tj TJ ' " Tc Tw Tz Ts), graphics
state (q/Q cm), and XObjects (Do — images become ordered media records, our
improvement over the reference's ``-i`` image suppression, PDFToHtml.java:52).

One content-stream scanner: ``_run_stream`` matches ``_CS_TOKEN`` and
dispatches operators in the same loop; arrays go to the one array parser
``_parse_content_array``, strings, dicts and names to the
``sources.pdfparse`` sub-parsers and name decoder.

Coordinates are emitted in a top-left-origin device space at 1:1 PDF units
(the reference's poppler space is the same up to a constant zoom; our layout
thresholds in operators/layout.py are calibrated to this space).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from ..sources.pdfparse import (
    MAX_NESTING,
    Name,
    PDFDocument,
    PDFStream,
    Ref,
    _decode_name,
    _parse_dict,
    _parse_hex_string,
    _parse_literal_string,
    _skip_ws,
)
from .glyphs import base_encoding_table, default_width_for, glyph_to_unicode


@dataclass(slots=True)
class TextRun:
    pageno: int
    left: float
    top: float  # baseline-derived top (baseline_y - size)
    width: float
    height: float
    baseline: float
    size: float
    angle: int  # 0/90/180/270, or -1 for arbitrary
    font: str  # resource font key, doc-unique (resolved to family later)
    family: str
    weight: str  # "normal" | "bold"
    style: str  # "normal" | "italic"
    color: str  # "#rrggbb"
    text: str


@dataclass(slots=True)
class MediaRef:
    pageno: int
    left: float
    top: float
    width: float
    height: float
    ref: str  # synthetic opaque URI


# ---------------------------------------------------------------------------
# Font decoding
# ---------------------------------------------------------------------------

_HEX_ITEM = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)


def _hex_to_int(h: bytes) -> int:
    return int(re.sub(rb"\s", b"", h), 16)


def _hex_to_text(h: bytes) -> str:
    raw = bytes.fromhex(re.sub(rb"\s", b"", h).decode("ascii"))
    if len(raw) % 2:
        raw += b"\x00"
    try:
        return raw.decode("utf-16-be")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def parse_tounicode(cmap_bytes: bytes) -> tuple[dict[int, str], int]:
    """Parse a ToUnicode CMap → (code→text map, code byte length)."""
    mapping: dict[int, str] = {}
    nbytes = 1
    m = _CODESPACE_RE.search(cmap_bytes)
    if m:
        items = _HEX_ITEM.findall(m.group(1))
        if items:
            hx = re.sub(rb"\s", b"", items[0])
            nbytes = max(1, len(hx) // 2)
    for m in _BFCHAR_RE.finditer(cmap_bytes):
        items = _HEX_ITEM.findall(m.group(1))
        for i in range(0, len(items) - 1, 2):
            mapping[_hex_to_int(items[i])] = _hex_to_text(items[i + 1])
    for m in _BFRANGE_RE.finditer(cmap_bytes):
        body = m.group(1)
        pos = 0
        while True:
            mm = _HEX_ITEM.search(body, pos)
            if not mm:
                break
            lo = _hex_to_int(mm.group(1))
            mm2 = _HEX_ITEM.search(body, mm.end())
            if not mm2:
                break
            hi = _hex_to_int(mm2.group(1))
            pos = mm2.end()
            # next is either a hex string or an array of hex strings
            nxt = _skip_ws(body, pos)
            if nxt < len(body) and body[nxt] == 0x5B:  # '['
                endb = body.find(b"]", nxt)
                arr = _HEX_ITEM.findall(body[nxt:endb])
                for off, item in enumerate(arr):
                    if lo + off <= hi:
                        mapping[lo + off] = _hex_to_text(item)
                pos = endb + 1
            else:
                mm3 = _HEX_ITEM.search(body, pos)
                if not mm3:
                    break
                base = mm3.group(1)
                base_txt = _hex_to_text(base)
                if hi - lo > 65535:
                    hi = lo + 65535  # defensive cap
                if len(base_txt) == 1:
                    bcp = ord(base_txt)
                    for off in range(hi - lo + 1):
                        mapping[lo + off] = chr(bcp + off)
                else:
                    for off in range(hi - lo + 1):
                        mapping[lo + off] = base_txt
                pos = mm3.end()
    return mapping, nbytes


_SUBSET_RE = re.compile(r"^[A-Z]{6}\+")


class FontDecoder:
    """Per-font decoder: byte string → [(code, unicode, width_em1000)]."""

    def __init__(self, doc: PDFDocument, font_obj, res_key: str):
        font = doc.resolve(font_obj)
        if not isinstance(font, dict):
            font = {}
        self.res_key = res_key
        subtype = str(doc.resolve(font.get("Subtype", "")) or "")
        base = doc.resolve(font.get("BaseFont", "")) or ""
        self.basefont = str(base)
        fam = _SUBSET_RE.sub("", self.basefont)
        self.family = fam
        low = fam.lower()
        self.weight = "bold" if "bold" in low or "black" in low or "heavy" in low else "normal"
        self.style = "italic" if "italic" in low or "oblique" in low else "normal"
        self.code_bytes = 1
        self.tounicode: dict[int, str] = {}
        self.enc_table: dict[int, str] = {}
        self.widths: dict[int, float] = {}
        self.default_w: float | None = None
        self.is_cid = subtype == "Type0"
        self.cid_ucs2 = False
        self._agg_cache: dict[bytes, tuple[str, float, int, int]] = {}
        self._code_table: dict[int, tuple[int, str, float]] = {}

        tu = doc.resolve(font.get("ToUnicode"))
        if isinstance(tu, PDFStream):
            try:
                self.tounicode, self.code_bytes = parse_tounicode(tu.data)
            except Exception:
                self.tounicode = {}
        if not self.is_cid:
            # simple fonts address glyphs with single-byte codes regardless of
            # what their ToUnicode CMap declares as codespace (int keys match)
            self.code_bytes = 1

        if self.is_cid:
            self.code_bytes = max(self.code_bytes, 2)
            # predefined Uni*-UCS2 CMaps (UniGB/UniCNS/UniJIS/UniKS
            # -UCS2-H/V): the 2-byte code IS the UCS-2 codepoint, so CJK
            # text decodes without a ToUnicode stream (poppler ships the
            # full Adobe CMap files; the UCS2 family is the common case
            # and needs no table)
            enc_name = doc.resolve(font.get("Encoding"))
            self.cid_ucs2 = (
                isinstance(enc_name, (Name, str))
                and str(enc_name).startswith("Uni")
                and "UCS2" in str(enc_name)
            )
            desc_list = doc.resolve(font.get("DescendantFonts")) or []
            desc = doc.resolve(desc_list[0]) if desc_list else {}
            if isinstance(desc, dict):
                dw = doc.resolve(desc.get("DW"))
                self.default_w = float(dw) if dw is not None else 1000.0
                w = doc.resolve(desc.get("W")) or []
                self._load_cid_widths(doc, w)
                fd = doc.resolve(desc.get("FontDescriptor"))
                self._flags_from_descriptor(doc, fd)
        else:
            first = doc.resolve(font.get("FirstChar"))
            widths = doc.resolve(font.get("Widths"))
            if isinstance(first, int) and isinstance(widths, list):
                for i, w in enumerate(widths):
                    w = doc.resolve(w)
                    if isinstance(w, (int, float)):
                        self.widths[first + i] = float(w)
            enc = doc.resolve(font.get("Encoding"))
            base_kind = "StandardEncoding"
            diffs = None
            if isinstance(enc, Name) or isinstance(enc, str):
                base_kind = str(enc)
            elif isinstance(enc, dict):
                be = doc.resolve(enc.get("BaseEncoding"))
                if be:
                    base_kind = str(be)
                diffs = doc.resolve(enc.get("Differences"))
            if "TrueType" == subtype and not isinstance(enc, (dict, Name, str)):
                base_kind = "WinAnsiEncoding"
            self.enc_table = base_encoding_table(base_kind)
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    item = doc.resolve(item)
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, (Name, str)):
                        # an unknown glyph name maps to "": dropped at
                        # every code, not decoded through chr(code)
                        self.enc_table[code] = \
                            glyph_to_unicode(str(item)) or ""
                        code += 1
            fd = doc.resolve(font.get("FontDescriptor"))
            self._flags_from_descriptor(doc, fd)

    def _flags_from_descriptor(self, doc: PDFDocument, fd) -> None:
        if not isinstance(fd, dict):
            return
        flags = doc.resolve(fd.get("Flags"))
        if isinstance(flags, int):
            if flags & (1 << 6):  # Italic
                self.style = "italic"
        sw = doc.resolve(fd.get("StemV"))
        if isinstance(sw, (int, float)) and sw >= 120:
            self.weight = "bold"
        mw = doc.resolve(fd.get("MissingWidth"))
        if isinstance(mw, (int, float)) and self.default_w is None:
            self.default_w = float(mw)

    def _load_cid_widths(self, doc: PDFDocument, w: list) -> None:
        i = 0
        n = len(w)
        while i < n:
            c = doc.resolve(w[i])
            if not isinstance(c, (int, float)):
                i += 1
                continue
            if i + 1 < n:
                nxt = doc.resolve(w[i + 1])
                if isinstance(nxt, list):
                    for off, ww in enumerate(nxt):
                        ww = doc.resolve(ww)
                        if isinstance(ww, (int, float)):
                            self.widths[int(c) + off] = float(ww)
                    i += 2
                elif isinstance(nxt, (int, float)) and i + 2 < n:
                    ww = doc.resolve(w[i + 2])
                    if isinstance(ww, (int, float)):
                        hi = min(int(nxt), int(c) + 65535)
                        for code in range(int(c), hi + 1):
                            self.widths[code] = float(ww)
                    i += 3
                else:
                    i += 2
            else:
                break

    def width_of(self, code: int) -> float:
        w = self.widths.get(code)
        if w is not None:
            return w
        if self.default_w is not None:
            return self.default_w
        return default_width_for(code, self.basefont)

    def decode_agg(self, raw: bytes) -> tuple[str, float, int, int]:
        """Aggregate decode for the show() hot path: (text, Σwidth_em1000,
        n_glyphs, n_space_glyphs), memoized per byte string — glyph runs
        repeat heavily (common words, single-glyph kerned fragments), so
        the per-glyph loop runs once per distinct string per font."""
        cache = self._agg_cache
        hit = cache.get(raw)
        if hit is not None:
            return hit
        text_parts: list[str] = []
        sum_w = 0.0
        nsp = 0
        decoded = self.decode(raw)
        for code, uni, w1000 in decoded:
            text_parts.append(uni)
            sum_w += w1000
            if code == 32:
                nsp += 1
        out = ("".join(text_parts), sum_w, len(decoded), nsp)
        if len(cache) < 8192:  # bound memory per font
            cache[raw] = out
        return out

    def decode(self, raw: bytes) -> list[tuple[int, str, float]]:
        # per-CODE memo: unicode + width resolve once per distinct glyph
        # code per font (small docs without /Widths otherwise pay a
        # default_width_for table walk per glyph — ~45 calls per line)
        table = self._code_table
        out: list[tuple[int, str, float]] = []
        if self.code_bytes == 2:
            it = range(0, len(raw) - 1, 2)
            codes = [(raw[i] << 8) | raw[i + 1] for i in it]
            if len(raw) % 2:  # trailing odd byte
                codes.append(raw[-1])
        else:
            codes = raw  # bytes iterates as ints
        for code in codes:
            hit = table.get(code)
            if hit is None:
                uni = self.tounicode.get(code)
                if uni is None:
                    uni = self.enc_table.get(code)
                if uni is None:
                    if not self.is_cid and 32 <= code <= 126:
                        uni = chr(code)
                    elif (self.cid_ucs2 and code >= 32
                          and not 0xD800 <= code <= 0xDFFF):
                        uni = chr(code)  # UCS2 CMap: code = codepoint
                    else:
                        uni = ""  # unmapped glyph — drop (poppler emits nothing)
                hit = (code, uni, self.width_of(code))
                table[code] = hit
            out.append(hit)
        return out


# ---------------------------------------------------------------------------
# Matrix helpers (2x3 affine as 6-tuples [a b c d e f])
# ---------------------------------------------------------------------------

def mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def mat_apply(m, x, y):
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


def base_ctm(media: tuple[float, float, float, float], rotate: int):
    """CTM mapping PDF user space → top-left-origin device space (1:1)."""
    x0, y0, x1, y1 = media
    rotate = rotate % 360
    if rotate == 90:
        return (0.0, 1.0, 1.0, 0.0, -y0, -x0)
    if rotate == 180:
        return (-1.0, 0.0, 0.0, 1.0, x1, -y0)
    if rotate == 270:
        return (0.0, -1.0, -1.0, 0.0, y1, x1)
    return (1.0, 0.0, 0.0, -1.0, -x0, y1)


# ---------------------------------------------------------------------------
# Content stream tokenizer
# ---------------------------------------------------------------------------

# group 2 captures a whole RUN of whitespace-separated numbers in the
# one match (vector-graphics operand lists: path data m/l/c/re dominates
# token counts in drawing-heavy pages — one match per run instead of one
# per number, then C-speed split/float). Possessive quantifiers: without
# them a partial match backtracks through every digit split — measured
# 2.5× slower.
_CS_TOKEN = re.compile(
    rb"[\x00\t\n\x0c\r ]*"             # leading whitespace folded in
    rb"(?:/([^\s()<>\[\]{}/%]*)"       # 1 name
    rb"|((?:[+-]?+(?:\d*+\.\d++|\d++\.?+))"  # 2 number run
    rb"(?:[\x00\t\n\x0c\r ]++[+-]?+(?:\d*+\.\d++|\d++\.?+))*+)"
    rb"|(<<|\[|\]|\(|<|\{|\})"         # 3 structural open/close
    rb"|([A-Za-z\"'][A-Za-z0-9*\"']*)"  # 4 operator/keyword
    rb"|(%[^\r\n]*))"                  # 5 comment
)

_EI_RE = re.compile(rb"(?:\s|^)EI(?=\s|$)")

# Drawing-run skip: after any unhandled operator, consume an entire run
# of path/stroke content — (numbers… safe-op)+ — in ONE match instead
# of one match per token. CRITICAL invariant: every repetition ends
# with an operator the interpreter ignores, so numbers that precede a
# HANDLED op (cm/Tm/rg/…) are never swallowed — a repetition that ends
# at such an op fails its final alternation and is not consumed.
# The safe set is the path/stroke/clip/linestyle ops (operand-typed
# names/arrays break the run at '/'/'[' before ever reaching it).
_DRAW_RUN = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]*+"
    rb"(?:[+-]?+(?:\d*+\.\d++|\d++\.?+)[\x00\t\n\x0c\r ]++)*+"
    rb"(?:f\*|W\*|B\*|b\*|re|gs|cs|m|l|c|v|y|h|n|f|S|s|w|j|J|M|d|i)"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$))++"
)

# array-element scanner: numbers, literal strings, hex strings, the
# closing bracket and names — everything a TJ array holds — in one
# anchored pattern (~90% of all tokens in kerning-heavy documents sit
# inside TJ arrays)
_ARR_ELEM = re.compile(
    rb"[\x00\t\n\x0c\r ]*"
    rb"(?:([+-]?\d*\.\d+|[+-]?\d+\.?)"  # 1 number
    rb"|(\()"                            # 2 literal string start
    rb"|(<)(?!<)"                        # 3 hex string start
    rb"|(\])"                            # 4 close
    rb"|/([^\s()<>\[\]{}/%]*))"          # 5 name
)

def _parse_content_array(data: bytes, pos: int, depth: int = 1):
    """Parse a content-stream array; ``pos`` is just past its '['.
    Returns (elements, pos after the matching ']', or the end of data).
    ``depth`` counts this array among the enclosing arrays and dicts.

    TJ elements take the one ``_ARR_ELEM`` match; anything else takes
    one ``_CS_TOKEN`` step: a nested '[' recurses, '<<' parses a dict,
    a keyword becomes an inert str element (as ``parse_object`` treats
    bare keywords — it never runs as an operator mid-array), and
    comments, braces and stray bytes are skipped."""
    out: list = []
    match = _ARR_ELEM.match
    n = len(data)
    while pos < n:
        m = match(data, pos)
        if m is not None:
            gi = m.lastindex
            if gi == 1:
                out.append(float(m.group(1)))
                pos = m.end()
            elif gi == 2:
                s, pos = _parse_literal_string(data, m.end())
                out.append(s)
            elif gi == 3:
                s, pos = _parse_hex_string(data, m.end())
                out.append(s)
            elif gi == 4:
                return out, m.end()
            else:
                out.append(_decode_name(m.group(5)))
                pos = m.end()
            continue
        mt = _CS_TOKEN.match(data, pos)
        if mt is None:
            pos += 1  # stray byte
            continue
        pos = mt.end()
        gi = mt.lastindex
        if gi == 3:
            tok = mt.group(3)
            if depth >= MAX_NESTING:
                continue  # too deep: the contents join this array
            if tok == b"[":
                arr, pos = _parse_content_array(data, pos, depth + 1)
                out.append(arr)
            elif tok == b"<<":
                d, pos = _parse_dict(data, pos, depth + 1)
                out.append(d)
        elif gi == 4:
            out.append(mt.group(4).decode("latin-1"))
    return out, pos


# ---------------------------------------------------------------------------
# Interpreter
# ---------------------------------------------------------------------------

MAX_OPS_PER_PAGE = 400_000  # budget guard: oversized/adversarial pages bail out
MAX_FORM_DEPTH = 8

#: operators the interpreter acts on; everything else clears the operand
#: stack and moves on (single frozenset probe)
_HANDLED_OPS = frozenset((
    "q", "Q", "cm", "BT", "ET", "Tf", "Td", "TD", "Tm", "T*", "TL", "Tc",
    "Tw", "Tz", "Ts", "Tj", "'", '"', "TJ", "rg", "sc", "scn", "g", "k", "Do",
))
_HANDLED_OPS_BYTES = frozenset(s.encode("latin-1") for s in _HANDLED_OPS)


def _color_hex(rgb) -> str:
    r, g, b = (max(0.0, min(1.0, float(v))) for v in rgb)
    return "#%02x%02x%02x" % (round(r * 255), round(g * 255), round(b * 255))


class _State:
    __slots__ = ("ctm", "fill")

    def __init__(self, ctm, fill="#000000"):
        self.ctm = ctm
        self.fill = fill


def interpret_page(
    doc: PDFDocument,
    pageno: int,
    content: bytes,
    resources: dict,
    media: tuple[float, float, float, float],
    rotate: int,
    font_cache: dict,
) -> tuple[list[TextRun], list[MediaRef]]:
    runs: list[TextRun] = []
    medias: list[MediaRef] = []
    ctm0 = base_ctm(media, rotate)
    _run_stream(
        doc, pageno, content, resources, ctm0, font_cache, runs, medias, 0, [0]
    )
    return runs, medias


def _get_font(doc, resources, fname, font_cache) -> FontDecoder | None:
    fonts = doc.resolve(resources.get("Font")) if resources else None
    if not isinstance(fonts, dict):
        return None
    ref = fonts.get(fname)
    key = (ref.num, ref.gen) if isinstance(ref, Ref) else (fname, id(resources))
    dec = font_cache.get(key)
    if dec is None:
        dec = FontDecoder(doc, ref, fname)
        font_cache[key] = dec
    return dec


def _run_stream(
    doc, pageno, data, resources, ctm_init, font_cache, runs, medias, depth, op_budget
):
    gs_stack: list[_State] = []
    gs = _State(ctm_init)
    tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    tl = 0.0
    tc = 0.0
    tw = 0.0
    th = 1.0
    ts = 0.0
    font: FontDecoder | None = None
    fsize = 0.0
    stack: list = []
    in_text = False
    media_seq = [0]

    # TJ kern ≥ this em-fraction reads as a word space (poppler-style
    # word-break heuristic; our goldens are calibrated to this value)
    KERN_SPACE_EM = 0.18

    def show(items: list):
        """Render one show op. items = [bytes | kern-number, ...] (TJ form;
        Tj/'/" pass a single-element list). Emits one TextRun, advances Tm."""
        nonlocal tm
        if font is None or not items:
            return
        text_parts: list[str] = []
        disp = 0.0  # total advance in DEVICE-upstream text-space x (pre-Tm)
        scale = fsize * th
        k = scale / 1000.0
        kern_space = -KERN_SPACE_EM * 1000.0
        # inline the per-string memo (119k lookups/doc: the method-call
        # overhead of decode_agg costs more than the cached work)
        agg_cache = font._agg_cache
        decode_agg = font.decode_agg
        for item in items:
            t = type(item)
            if t is bytes:
                hit = agg_cache.get(item)
                txt, sum_w, nglyphs, nsp = hit if hit is not None \
                    else decode_agg(item)
                text_parts.append(txt)
                disp += sum_w * k + (nglyphs * tc + nsp * tw) * th
            elif t is float or t is int:
                disp -= item * k
                if item < kern_space:
                    if text_parts and not text_parts[-1].endswith(" "):
                        text_parts.append(" ")
        # fold the font matrix S=(scale,0,0,fsize,0,ts) algebraically:
        # trm = S·(tm·ctm) ⇒ linear = (scale·M0, scale·M1, fsize·M2,
        # fsize·M3), origin = apply(M, 0, ts) — one mat_mul saved per show
        M = mat_mul(tm, gs.ctm)
        x0, y0 = mat_apply(M, 0.0, ts)
        if M[1] == 0.0 and M[2] == 0.0 and M[0] > 0.0 and M[3] > 0.0 \
                and scale > 0.0:
            # axis-aligned fast path (the overwhelming majority of text):
            # angle 0, size straight off the diagonal — no hypot/atan2
            dev_size = fsize * M[3]
            ang = 0
        else:
            # device-space font size from the (0,1) basis vector length
            vx, vy = fsize * M[2], fsize * M[3]
            dev_size = math.hypot(vx, vy)
            ux, uy = scale * M[0], scale * M[1]
            angle = math.degrees(math.atan2(uy, ux)) % 360.0
            snapped = int(round(angle / 90.0)) * 90 % 360
            ang = snapped if abs(angle - (int(round(angle / 90.0)) * 90)) < 0.5 else -1
        x1, y1 = mat_apply(M, disp if scale else 0.0, ts)
        text = "".join(text_parts)
        # advance Tm by the total displacement
        # translation-only advance: T(disp)·tm expands to shifting the
        # origin along tm's x basis — no general multiply needed
        tm = (tm[0], tm[1], tm[2], tm[3],
              disp * tm[0] + tm[4], disp * tm[1] + tm[5])
        if not text:
            return
        width = math.hypot(x1 - x0, y1 - y0)
        if ang == 0:
            left, baseline = x0, y0
        elif ang == 180:
            left, baseline = x0 - width, y0
        else:
            left, baseline = min(x0, x1), min(y0, y1)
        runs.append(
            TextRun(
                pageno=pageno,
                left=left,
                top=baseline - dev_size,
                width=width,
                height=dev_size * 1.0,
                baseline=baseline,
                size=dev_size,
                angle=ang,
                font=font.res_key,
                family=font.family,
                weight=font.weight,
                style=font.style,
                color=gs.fill,
                text=text,
            )
        )

    def num(i: int) -> float:
        try:
            return float(stack[i])
        except (IndexError, TypeError, ValueError):
            return 0.0

    # FUSED tokenizer+dispatch: the one content-stream scanner, with no
    # generator and no (kind, value) tuple per token on the hot path
    # (445k tokens on a 112-page doc) — worth ~10% of single-doc wall
    # time, measured. Strings, dicts and arrays go to their sub-parsers.
    # Budget is a local int (op_budget[0] indexing costs ~10% of the
    # dispatch loop); synced at Do recursion and on exit.
    budget = op_budget[0]
    match = _CS_TOKEN.match
    data_n = len(data)
    pos = 0
    while pos < data_n:
        mt = match(data, pos)
        if not mt or mt.lastindex is None:
            pos = mt.end() + 1 if mt else pos + 1
            continue
        gi = mt.lastindex
        if gi == 2:  # number run — the hottest kind
            run = mt.group(2)
            pos = mt.end()
            if b"\x00" in run:
                run = run.replace(b"\x00", b" ")
            vals = [float(x) for x in run.split()]
            budget += len(vals)
            if budget > MAX_OPS_PER_PAGE:
                break
            stack.extend(vals)
            continue
        if gi == 4:  # operator/keyword
            raw_op = mt.group(4)
            pos = mt.end()
            if raw_op == b"BI":
                # inline image: skip dict + binary data to EI
                mm = _EI_RE.search(data, pos)
                pos = mm.end() if mm else data_n
                budget += 1
                if budget > MAX_OPS_PER_PAGE:
                    break
                medias.append(
                    MediaRef(
                        pageno=pageno,
                        left=mat_apply(gs.ctm, 0.0, 0.0)[0],
                        top=mat_apply(gs.ctm, 0.0, 1.0)[1],
                        width=abs(gs.ctm[0]),
                        height=abs(gs.ctm[3]),
                        ref=f"img://p{pageno}/inline/{media_seq[0]}",
                    )
                )
                media_seq[0] += 1
                stack.clear()
                continue
            if raw_op not in _HANDLED_OPS_BYTES:
                # path/clipping/shading/marked-content ops: one set
                # probe (drawing-heavy pages: ~25× more path ops than
                # text ops); operands stay until cleared here. Then
                # swallow any following drawing run in one match —
                # path data dominates token counts on drawing pages.
                # Unhandled ops still count toward the per-page budget
                # (a pathological page of pure path ops must hit the
                # cap too); the swallowed run is one cheap regex match,
                # so one unit per op is the right weight.
                budget += 1
                if budget > MAX_OPS_PER_PAGE:
                    break
                stack.clear()
                mr = _DRAW_RUN.match(data, pos)
                if mr is not None:
                    pos = mr.end()
                continue
            budget += 1
            if budget > MAX_OPS_PER_PAGE:
                break
        elif gi == 1:  # name
            budget += 1
            if budget > MAX_OPS_PER_PAGE:
                break
            stack.append(_decode_name(mt.group(1)))
            pos = mt.end()
            continue
        elif gi == 3:  # structural
            tok = mt.group(3)
            budget += 1
            if budget > MAX_OPS_PER_PAGE:
                break
            if tok == b"(":
                s, pos = _parse_literal_string(data, mt.end())
                stack.append(s)
            elif tok == b"<":
                s, pos = _parse_hex_string(data, mt.end())
                stack.append(s)
            elif tok == b"<<":
                d, pos = _parse_dict(data, mt.end())
                stack.append(d)
            elif tok == b"[":
                arr, pos = _parse_content_array(data, mt.end())
                budget += len(arr)
                stack.append(arr)
            else:
                if tok == b"]":  # stray close: an empty array operand
                    stack.append([])
                pos = mt.end()
            continue
        else:  # comment
            pos = mt.end()
            continue
        # fall through only for a HANDLED operator
        op = raw_op.decode("latin-1")
        try:  # noqa: SIM105 — malformed operands must not kill the page
            if op == "q":
                gs_stack.append(_State(gs.ctm, gs.fill))
            elif op == "Q":
                if gs_stack:
                    gs = gs_stack.pop()
            elif op == "cm":
                if len(stack) >= 6:
                    m = tuple(float(v) for v in stack[-6:])
                    gs.ctm = mat_mul(m, gs.ctm)
            elif op == "BT":
                in_text = True
                tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
            elif op == "ET":
                in_text = False
            elif op == "Tf":
                if len(stack) >= 2 and isinstance(stack[-2], str):
                    font = _get_font(doc, resources, stack[-2], font_cache)
                    fsize = float(stack[-1])
            elif op == "Td":
                tlm = mat_mul((1.0, 0.0, 0.0, 1.0, num(-2), num(-1)), tlm)
                tm = tlm
            elif op == "TD":
                tl = -num(-1)
                tlm = mat_mul((1.0, 0.0, 0.0, 1.0, num(-2), num(-1)), tlm)
                tm = tlm
            elif op == "Tm":
                if len(stack) >= 6:
                    tlm = tuple(float(v) for v in stack[-6:])
                    tm = tlm
            elif op == "T*":
                tlm = mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
                tm = tlm
            elif op == "TL":
                tl = num(-1)
            elif op == "Tc":
                tc = num(-1)
            elif op == "Tw":
                tw = num(-1)
            elif op == "Tz":
                th = num(-1) / 100.0
            elif op == "Ts":
                ts = num(-1)
            elif op == "Tj":
                if stack and isinstance(stack[-1], bytes):
                    show([stack[-1]])
            elif op == "'":
                tlm = mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
                tm = tlm
                if stack and isinstance(stack[-1], bytes):
                    show([stack[-1]])
            elif op == '"':
                if len(stack) >= 3:
                    tw = num(-3)
                    tc = num(-2)
                tlm = mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
                tm = tlm
                if stack and isinstance(stack[-1], bytes):
                    show([stack[-1]])
            elif op == "TJ":
                if stack and isinstance(stack[-1], list):
                    show(stack[-1])
            elif op in ("rg", "sc", "scn") and len(stack) >= 3:
                try:
                    gs.fill = _color_hex(stack[-3:])
                except (TypeError, ValueError):
                    pass
            elif op == "g" and stack:
                v = num(-1)
                gs.fill = _color_hex((v, v, v))
            elif op == "k" and len(stack) >= 4:
                c, m_, y_, k_ = (num(i) for i in (-4, -3, -2, -1))
                gs.fill = _color_hex(
                    ((1 - c) * (1 - k_), (1 - m_) * (1 - k_), (1 - y_) * (1 - k_))
                )
            elif op == "Do":
                if stack and isinstance(stack[-1], str):
                    op_budget[0] = budget  # sync shared budget across recursion
                    try:
                        _do_xobject(
                            doc, pageno, stack[-1], resources, gs, font_cache,
                            runs, medias, depth, op_budget, media_seq,
                        )
                    finally:
                        # resync even when the recursion raises — the
                        # outer defensive except must not discard the
                        # increments the recursion already made
                        budget = op_budget[0]
        except Exception:
            pass  # defensive: a malformed operand skips one op only
        stack.clear()

    op_budget[0] = budget


def _do_xobject(
    doc, pageno, name, resources, gs, font_cache, runs, medias, depth, op_budget, media_seq
):
    xobjs = doc.resolve(resources.get("XObject")) if resources else None
    if not isinstance(xobjs, dict):
        return
    xo = doc.resolve(xobjs.get(name))
    if not isinstance(xo, PDFStream):
        return
    subtype = str(doc.resolve(xo.dict.get("Subtype", "")) or "")
    if subtype == "Image":
        # unit square transformed by CTM
        corners = [mat_apply(gs.ctm, x, y) for x, y in ((0, 0), (1, 0), (0, 1), (1, 1))]
        xs = [p[0] for p in corners]
        ys = [p[1] for p in corners]
        medias.append(
            MediaRef(
                pageno=pageno,
                left=min(xs),
                top=min(ys),
                width=max(xs) - min(xs),
                height=max(ys) - min(ys),
                ref=f"img://p{pageno}/{name}/{media_seq[0]}",
            )
        )
        media_seq[0] += 1
    elif subtype == "Form" and depth < MAX_FORM_DEPTH:
        inner_res = doc.resolve(xo.dict.get("Resources")) or resources
        mtx = doc.resolve(xo.dict.get("Matrix"))
        ctm = gs.ctm
        if isinstance(mtx, list) and len(mtx) == 6:
            ctm = mat_mul(tuple(float(doc.resolve(v) or 0) for v in mtx), ctm)
        try:
            body = xo.data
        except Exception:
            return
        _run_stream(
            doc, pageno, body, inner_res if isinstance(inner_res, dict) else {},
            ctm, font_cache, runs, medias, depth + 1, op_budget,
        )
