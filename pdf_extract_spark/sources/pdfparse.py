"""PDF object layer: lexer, object graph, stream filters, page tree.

From-scratch replacement for the reference's poppler subprocess scan
(reference: PDFToHtml.java:45-72 spawns ``pdftohtml``; we tokenize raw PDF
bytes in-process with stdlib ``zlib``/``re`` so extraction runs inside
the Arrow-batched row map with no process boundary — SURVEY.md §2.1 S4).

Design notes for scale:
  * Streams are decoded LAZILY (`PDFStream.data` property) — image payloads
    (906 images in the sample4 fixture) are never inflated; only content
    streams, ToUnicode CMaps, ObjStm and XRef streams are.
  * Object discovery is a single regex sweep over the byte buffer (robust to
    broken xref tables), then ObjStm expansion for PDFs that pack objects
    into compressed object streams. Classic xref tables are not required.
  * Everything is pure Python/stdlib; per-document work parallelizes across
    Spark partitions (one doc = one row in the Arrow batch).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field


class Name(str):
    """A PDF name token (``/Foo``) — distinct from a PDF string."""

    __slots__ = ()


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int = 0


class PDFStream:
    __slots__ = ("dict", "raw", "_data", "_doc", "num", "gen")

    def __init__(self, d: dict, raw: bytes, doc: "PDFDocument | None" = None,
                 num: int = 0, gen: int = 0):
        self.dict = d
        self.raw = raw
        self._data: bytes | None = None
        self._doc = doc
        self.num = num
        self.gen = gen

    @property
    def data(self) -> bytes:
        """Decoded stream bytes (lazy; decrypts, then applies /Filter)."""
        if self._data is None:
            raw = self.raw
            doc = self._doc
            # S5: transparent RC4 decrypt before the filter chain. XRef
            # streams are never encrypted (PDF 32000-1 §7.5.8.2).
            if (doc is not None and doc.crypt is not None
                    and str(self.dict.get("Type", "")) != "XRef"):
                raw = doc.crypt.decrypt(raw, self.num, self.gen)
            self._data = decode_stream(self.dict, raw, doc)
        return self._data


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

# one token regex for the object-syntax lexer: names, numbers, keywords,
# structural tokens; strings/hex-strings/comments handled by hand.
_TOKEN_RE = re.compile(
    rb"/([^\s()<>\[\]{}/%]*)"  # 1: name
    rb"|(<<|>>|\[|\]|\(|<|\{|\}|%)"  # 2: structural
    rb"|([+-]?\d*\.\d+|[+-]?\d+\.?)"  # 3: number
    rb"|([A-Za-z][A-Za-z0-9*'\"]*)"  # 4: keyword (true/false/null/obj/R/...)
)

_NAME_ESC_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


def _decode_name(raw: bytes) -> str:
    """Name token body (after '/') → str, decoding #XX escapes (PDF
    §7.3.5) — one decoder for object syntax and content streams, so
    content-stream lookups match resource-dict keys."""
    if b"#" in raw:
        raw = _NAME_ESC_RE.sub(lambda mm: bytes([int(mm.group(1), 16)]), raw)
    return raw.decode("latin-1")


_STR_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\x0c",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # '%' comment → to EOL
            eol = data.find(b"\n", pos)
            pos = len(data) if eol < 0 else eol + 1
        else:
            break
    return pos


def _parse_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """pos points just past '('. Returns (bytes, pos after ')')."""
    # fast path (hot: every Tj/TJ string): no escapes and no nesting
    # before the closing paren → the span is the string, at C speed
    end = data.find(b")", pos)
    if end >= 0:
        span = data[pos:end]
        if b"\\" not in span and b"(" not in span:
            return span, end + 1
    out = bytearray()
    depth = 1
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in _STR_ESCAPES:
                out += _STR_ESCAPES[e]
                pos += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while pos < n and len(oct_digits) < 3 and 0x30 <= data[pos] <= 0x37:
                    oct_digits.append(data[pos])
                    pos += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e == 0x0A:  # line continuation
                pos += 1
            elif e == 0x0D:
                pos += 1
                if pos < n and data[pos] == 0x0A:
                    pos += 1
            else:
                out.append(e)
                pos += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    return bytes(out), pos


def _parse_hex_string(data: bytes, pos: int) -> tuple[bytes, int]:
    end = data.find(b">", pos)
    if end < 0:
        end = len(data)
    # fast path: C-level whitespace strip (hot — one call per show
    # string in CMap-heavy docs); rare non-hex junk falls back to re
    hx = data[pos:end].translate(None, delete=b"\x00\t\n\x0c\r ")
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii")), end + 1
    except (ValueError, UnicodeDecodeError):
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", hx)
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")), end + 1


# a '[' or '<<' nested deeper than this is dropped (null here, skipped
# by the content-stream array parser) and its contents parse at the
# enclosing level: hostile nesting cannot exhaust the recursion limit
# and lose the page
MAX_NESTING = 32


def parse_object(data: bytes, pos: int, depth: int = 0):
    """Parse one PDF object starting at pos. Returns (obj, new_pos).

    Recognizes: dict, array, name, number, string, hex string, bool, null,
    and indirect references ``n g R``. ``depth`` is the number of arrays
    and dicts around ``pos``.
    """
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        return None, pos
    m = _TOKEN_RE.match(data, pos)
    if not m:
        # unknown byte — skip it defensively
        return None, pos + 1
    if m.group(1) is not None:  # name
        return Name(_decode_name(m.group(1))), m.end()
    if m.group(2) is not None:  # structural
        tok = m.group(2)
        if tok in (b"<<", b"["):
            if depth >= MAX_NESTING:
                return None, m.end()
            parse = _parse_dict if tok == b"<<" else _parse_array
            return parse(data, m.end(), depth + 1)
        if tok == b"(":
            return _parse_literal_string(data, m.end())
        if tok == b"<":
            return _parse_hex_string(data, m.end())
        # '>>' / ']' handled by callers; '{'/'}'/'%' shouldn't reach here
        return None, m.end()
    if m.group(3) is not None:  # number — maybe a "n g R" reference
        txt = m.group(3)
        end = m.end()
        if b"." not in txt:
            ref = _try_ref(data, txt, end)
            if ref is not None:
                return ref
            return int(txt), end
        return float(txt), end
    kw = m.group(4)
    end = m.end()
    if kw == b"true":
        return True, end
    if kw == b"false":
        return False, end
    if kw == b"null":
        return None, end
    return Name(kw.decode("latin-1")), end  # bare keyword (operator context)


_REF_RE = re.compile(rb"\s+(\d+)\s+R\b")


def _try_ref(data: bytes, numtxt: bytes, end: int):
    m = _REF_RE.match(data, end)
    if m:
        return Ref(int(numtxt), int(m.group(1))), m.end()
    return None


def _parse_array(data: bytes, pos: int, depth: int = 1):
    """``pos`` is just past the '['; ``depth`` counts it."""
    out = []
    n = len(data)
    while pos < n:
        pos = _skip_ws(data, pos)
        if pos < n and data[pos] == 0x5D:  # ]
            return out, pos + 1
        obj, pos2 = parse_object(data, pos, depth)
        if pos2 == pos:
            pos2 += 1
        else:
            out.append(obj)
        pos = pos2
    return out, pos


def _parse_dict(data: bytes, pos: int, depth: int = 1):
    """``pos`` is just past the '<<'; ``depth`` counts it."""
    out: dict = {}
    n = len(data)
    while pos < n:
        pos = _skip_ws(data, pos)
        if data.startswith(b">>", pos):
            return out, pos + 2
        key, pos = parse_object(data, pos, depth)
        if not isinstance(key, Name):
            # malformed — bail at next >>
            nxt = data.find(b">>", pos)
            return out, (len(data) if nxt < 0 else nxt + 2)
        val, pos = parse_object(data, pos, depth)
        out[str(key)] = val
    return out, pos


# ---------------------------------------------------------------------------
# Stream filters
# ---------------------------------------------------------------------------

def png_unfilter_row(ft: int, row: bytearray, prev, bpp: int) -> bool:
    """Undo one PNG scanline filter in place: ``ft`` 0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth; ``prev`` is the previous unfiltered row (zeros
    for the first), ``bpp`` the filter distance in bytes. Returns False
    for an unknown filter type, leaving ``row`` as it was — each caller
    keeps its own policy for that. Serves PDF predictors and PNG images."""
    n = len(row)
    if ft == 1:  # Sub
        for j in range(bpp, n):
            row[j] = (row[j] + row[j - bpp]) & 0xFF
    elif ft == 2:  # Up
        for j in range(n):
            row[j] = (row[j] + prev[j]) & 0xFF
    elif ft == 3:  # Average
        for j in range(n):
            left = row[j - bpp] if j >= bpp else 0
            row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
    elif ft == 4:  # Paeth
        for j in range(n):
            a = row[j - bpp] if j >= bpp else 0
            b = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            p = a + b - c
            pa = p - a if p > a else a - p
            pb = p - b if p > b else b - p
            pc = p - c if p > c else c - p
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[j] = (row[j] + pr) & 0xFF
    else:
        return ft == 0
    return True


def _png_predictor(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """Reverse PNG predictors (used by xref streams / Flate DecodeParms);
    a row with an unknown filter type passes through as is. A row is
    never longer than ``data``, whatever ``/Columns`` claims."""
    bpp = max(1, (colors * bpc) // 8)
    stride = min((colors * bpc * columns + 7) // 8, len(data))
    out = bytearray()
    prev = bytearray(stride)
    i = 0
    n = len(data)
    while i < n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + stride])
        i += 1 + stride
        png_unfilter_row(ft, row, prev, bpp)
        out += row
        prev = row
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    """Minimal LZW (PDF flavor, 8-bit codes growing to 12, EarlyChange=1)."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bits, acc, width = 0, 0, 9
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
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
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _apply_decode_parms(data: bytes, parms, res) -> bytes:
    """Undo a PNG predictor (``/Predictor`` >= 10). Each parameter is
    resolved through ``res``; one that is still not a non-negative int
    means no predictor."""
    if not isinstance(parms, dict):
        return data
    pred, colors, bpc, columns = (
        res(parms.get(k, d)) for k, d in (
            ("Predictor", 1), ("Colors", 1), ("BitsPerComponent", 8),
            ("Columns", 1)))
    if all(type(v) is int and v >= 0 for v in (pred, colors, bpc, columns)) \
            and pred >= 10:
        return _png_predictor(data, colors, bpc, columns)
    return data


def decode_stream(sdict: dict, raw: bytes, doc: "PDFDocument | None" = None) -> bytes:
    def res(x):
        return doc.resolve(x) if doc is not None else x

    filters = res(sdict.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = res(sdict.get("DecodeParms") or sdict.get("DP"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    data = raw
    for f, p in zip(filters, parms):
        fname = str(f) if f is not None else ""
        if fname in ("FlateDecode", "Fl"):
            try:
                data = zlib.decompress(data)
            except zlib.error:
                # salvage: some writers pad/truncate; decompress what we can
                d = zlib.decompressobj()
                try:
                    data = d.decompress(data)
                except zlib.error:
                    return b""
            data = _apply_decode_parms(data, res(p), res)
        elif fname in ("LZWDecode", "LZW"):
            data = _apply_decode_parms(_lzw_decode(data), res(p), res)
        elif fname in ("ASCIIHexDecode", "AHx"):
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
            if len(hx) % 2:
                hx += b"0"
            data = bytes.fromhex(hx.decode("ascii"))
        elif fname in ("ASCII85Decode", "A85"):
            import base64

            body = data.replace(b"<~", b"").split(b"~>")[0]
            body = re.sub(rb"\s", b"", body)
            try:
                data = base64.a85decode(body)
            except ValueError:
                return b""
        elif fname in ("RunLengthDecode", "RL"):
            out = bytearray()
            i = 0
            n = len(data)
            while i < n:
                ln = data[i]
                if ln == 128:  # EOD
                    break
                if ln < 128:
                    out += data[i + 1: i + 2 + ln]
                    i += 2 + ln
                else:
                    if i + 1 < n:
                        out += bytes([data[i + 1]]) * (257 - ln)
                    i += 2
            data = bytes(out)
        else:
            # image codecs (DCTDecode/JPXDecode/CCITT/JBIG2) — opaque payloads,
            # never needed for text extraction
            return raw
    return data


# ---------------------------------------------------------------------------
# Document: object discovery + page tree
# ---------------------------------------------------------------------------

_OBJ_HDR_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")
_STREAM_KW_RE = re.compile(rb"stream(\r\n|\n|\r)")
_TRAILER_RE = re.compile(rb"trailer")


class PDFParseError(Exception):
    pass


@dataclass
class PageRecord:
    pageno: int  # 1-based
    width: float
    height: float
    rotate: int
    content: bytes  # concatenated decoded content streams
    resources: dict  # resolved /Resources dict
    # /Annots Link rectangles in PDF user space (x0, y0, x1, y1) — the
    # source of the reference's islink flag (P2): poppler tags text under
    # a link annotation with <a> (PDFExtract.java:70,1459-1461)
    link_rects: list = field(default_factory=list)


class PDFDocument:
    """Parsed PDF: object map + page tree walker.

    Reference behavior replaced: poppler's whole-file scan producing
    ``<page>``/``<fontspec>``/``<text>`` XML (PDFToHtml.java:52,
    PDFExtract.java:644-728). Here the object graph is built directly and
    pages expose raw content streams for the interpreter in
    ``functions/textops.py``.
    """

    def __init__(self, data: bytes, max_pages: int | None = None):
        if not data.lstrip()[:5].startswith(b"%PDF-"):
            # be lenient: some PDFs have junk prefixes; search for header
            idx = data.find(b"%PDF-")
            if idx < 0:
                raise PDFParseError("not a PDF (no %PDF- header)")
            data = data[idx:]
        self.data = data
        self.objects: dict[int, object] = {}
        self.trailer: dict = {}
        self.max_pages = max_pages
        self.crypt = None  # StandardSecurityHandler when decryptable
        self.crypt_error: str | None = None  # unsupported-encryption detail
        self.permissions: dict | None = None  # S6 AccessPermission booleans
        self._scan_objects()
        # encryption must be resolved BEFORE ObjStm expansion (packed
        # object streams are themselves encrypted)
        self._find_trailer()
        self._setup_encryption()
        self._expand_object_streams()
        if "Root" not in self.trailer:
            self._find_trailer()  # retry: catalog may have been packed

    # -- object discovery ---------------------------------------------------
    def _scan_objects(self) -> None:
        data = self.data
        streams: list[tuple[PDFStream, int]] = []
        for m in _OBJ_HDR_RE.finditer(data):
            num = int(m.group(1))
            try:
                obj, pos = parse_object(data, m.end())
            except (RecursionError, ValueError):
                continue
            if isinstance(obj, dict):
                sm = _STREAM_KW_RE.match(data, _skip_ws(data, pos))
                if sm:
                    obj = PDFStream(obj, b"", self, num=num, gen=int(m.group(2)))
                    streams.append((obj, sm.end()))
            # later definitions win (incremental updates append to the file)
            self.objects[num] = obj
        # cut the streams once every object is known: an indirect /Length
        # is then one lookup, not a search of the file per stream
        for stream, start in streams:
            stream.raw = self._extract_stream(stream.dict, start)

    def _extract_stream(self, sdict: dict, start: int) -> bytes:
        data = self.data
        length = sdict.get("Length")
        if isinstance(length, Ref):
            length = self.objects.get(length.num)
        if isinstance(length, int) and 0 <= length <= len(data) - start:
            end = start + length
            # validate endstream within a small slack window
            tail = data[end : end + 32]
            if b"endstream" in tail or tail.strip()[:9] == b"endstream":
                return data[start:end]
        # fallback: search for endstream
        idx = data.find(b"endstream", start)
        if idx < 0:
            return data[start:]
        # trim a single trailing EOL
        seg = data[start:idx]
        if seg.endswith(b"\r\n"):
            seg = seg[:-2]
        elif seg.endswith(b"\n") or seg.endswith(b"\r"):
            seg = seg[:-1]
        return seg

    def _expand_object_streams(self) -> None:
        for num in list(self.objects):
            obj = self.objects[num]
            if isinstance(obj, PDFStream) and str(obj.dict.get("Type", "")) == "ObjStm":
                try:
                    body = obj.data
                    n = int(self.resolve(obj.dict.get("N", 0)))
                    first = int(self.resolve(obj.dict.get("First", 0)))
                except (TypeError, ValueError):
                    continue
                header = body[:first]
                nums = [int(x) for x in header.split()]
                for i in range(0, min(len(nums), 2 * n), 2):
                    onum, ooff = nums[i], nums[i + 1]
                    if onum in self.objects:
                        continue  # top-level defs (incremental updates) win
                    val, _ = parse_object(body, first + ooff)
                    self.objects[onum] = val

    def _find_trailer(self) -> None:
        # classic trailer dict(s): last one wins
        for m in _TRAILER_RE.finditer(self.data):
            pos = _skip_ws(self.data, m.end())
            if self.data.startswith(b"<<", pos):
                d, _ = _parse_dict(self.data, pos + 2)
                self.trailer.update({k: v for k, v in d.items() if k not in self.trailer or k != "Root"})
                if "Root" in d:
                    self.trailer["Root"] = d["Root"]
        if "Root" not in self.trailer:
            # xref-stream trailer: any stream dict with /Type /XRef carries
            # the trailer keys (Root/Encrypt/ID)
            for obj in self.objects.values():
                if isinstance(obj, PDFStream) and str(obj.dict.get("Type", "")) == "XRef":
                    for k in ("Root", "Encrypt", "ID"):
                        if k in obj.dict and k not in self.trailer:
                            self.trailer[k] = obj.dict[k]
        if "Root" not in self.trailer:
            # last resort: find the catalog by type
            for num, obj in self.objects.items():
                if isinstance(obj, dict) and str(obj.get("Type", "")) == "Catalog":
                    self.trailer["Root"] = Ref(num)
                    break

    def _setup_encryption(self) -> None:
        """S5/S6: resolve /Encrypt. Decryptable (Standard V1/V2, empty
        user password) → transparent stream decrypt via ``self.crypt``;
        otherwise record the reason so ``pages()`` raises a structured
        ``encrypted:`` error (the reference's permission-error path,
        PDFToHtml.java:58-67). Permission bits decode either way."""
        enc = self.resolve(self.trailer.get("Encrypt"))
        if not isinstance(enc, dict):
            return
        from .pdfcrypt import (
            StandardSecurityHandler,
            UnsupportedEncryption,
            _as_int32,
            permissions_dict,
        )

        self.permissions = permissions_dict(_as_int32(enc.get("P", -1)))
        doc_id = self.resolve(self.trailer.get("ID"))
        id0 = b""
        if isinstance(doc_id, list) and doc_id:
            first = self.resolve(doc_id[0])
            if isinstance(first, bytes):
                id0 = first
        try:
            self.crypt = StandardSecurityHandler(
                {k: self.resolve(v) for k, v in enc.items()}, id0
            )
        except UnsupportedEncryption as exc:
            self.crypt_error = str(exc)

    # -- resolution ---------------------------------------------------------
    def resolve(self, obj, depth: int = 0):
        while isinstance(obj, Ref) and depth < 32:
            obj = self.objects.get(obj.num)
            depth += 1
        return obj

    # -- page tree ----------------------------------------------------------
    _INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")

    def pages(self) -> list[PageRecord]:
        if self.crypt_error is not None:
            raise PDFParseError(f"encrypted: {self.crypt_error}")
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PDFParseError("no document catalog")
        pages_ref = root.get("Pages")
        out: list[PageRecord] = []
        self._walk(pages_ref, {}, out, set())
        return out

    def _walk(self, node_ref, inherited: dict, out: list, seen: set) -> None:
        if self.max_pages is not None and len(out) >= self.max_pages:
            return
        key = node_ref if isinstance(node_ref, Ref) else id(node_ref)
        if key in seen:
            return
        seen.add(key)
        node = self.resolve(node_ref)
        if not isinstance(node, dict):
            return
        inh = dict(inherited)
        for k in self._INHERITABLE:
            if k in node:
                inh[k] = node[k]
        ntype = str(node.get("Type", ""))
        kids = node.get("Kids")
        if ntype == "Pages" or (kids is not None and ntype != "Page"):
            for kid in self.resolve(kids) or []:
                self._walk(kid, inh, out, seen)
            return
        # leaf page (corrupt MediaBox/Rotate values → US-Letter defaults)
        media = self.resolve(inh.get("MediaBox")) or [0, 0, 612, 792]
        try:
            media = [float(self.resolve(v) or 0) for v in media]
            if len(media) != 4:
                raise ValueError
        except (TypeError, ValueError):
            media = [0.0, 0.0, 612.0, 792.0]
        try:
            rotate = int(self.resolve(inh.get("Rotate")) or 0) % 360
        except (TypeError, ValueError):
            rotate = 0
        width = abs(media[2] - media[0])
        height = abs(media[3] - media[1])
        if rotate in (90, 270):
            width, height = height, width
        content = self._page_content(node)
        resources = self.resolve(inh.get("Resources")) or {}
        if not isinstance(resources, dict):
            resources = {}
        links: list = []
        annots = self.resolve(node.get("Annots"))
        if isinstance(annots, list):
            for a in annots:
                a = self.resolve(a)
                if not (isinstance(a, dict)
                        and str(a.get("Subtype", "")) == "Link"):
                    continue
                rect = self.resolve(a.get("Rect"))
                if isinstance(rect, list) and len(rect) == 4:
                    try:
                        x0, y0, x1, y1 = (float(self.resolve(v) or 0)
                                          for v in rect)
                    except (TypeError, ValueError):
                        continue
                    links.append((min(x0, x1), min(y0, y1),
                                  max(x0, x1), max(y0, y1)))
        out.append(
            PageRecord(
                pageno=len(out) + 1,
                width=width,
                height=height,
                rotate=rotate,
                content=content,
                resources=resources,
                link_rects=links,
            )
        )

    def _page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        streams: list[bytes] = []
        if isinstance(contents, PDFStream):
            streams.append(contents.data)
        elif isinstance(contents, list):
            for c in contents:
                c = self.resolve(c)
                if isinstance(c, PDFStream):
                    streams.append(c.data)
        return b"\n".join(streams)
