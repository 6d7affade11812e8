"""Unit tests: content-stream interpreter + glyph decode (functions/textops)."""

import pytest

from pdf_extract_spark.functions.textops import (
    FontDecoder,
    base_ctm,
    interpret_page,
    mat_apply,
    mat_mul,
    parse_tounicode,
)
from pdf_extract_spark.sources.pdfparse import Name, PDFDocument
from pdf_extract_spark.sources.corpus import synth_pdf


def _page(content: bytes, resources=None, w=612.0, h=792.0, rotate=0):
    """Interpret a content stream with a single synthetic Helvetica font."""
    doc = PDFDocument(synth_pdf(0))  # provides the /F1 Helvetica object
    res = resources if resources is not None else doc.pages()[0].resources
    return interpret_page(doc, 1, content, res, (0, 0, w, h), rotate, {})


class TestTextOps:
    def test_td_tj(self):
        runs, _ = _page(b"BT /F1 10 Tf 100 700 Td (Hello) Tj ET")
        assert len(runs) == 1
        r = runs[0]
        assert r.text == "Hello"
        assert r.left == pytest.approx(100)
        assert r.baseline == pytest.approx(792 - 700)
        assert r.size == pytest.approx(10)
        assert r.angle == 0

    def test_tstar_tl(self):
        runs, _ = _page(b"BT /F1 10 Tf 2 TL 100 700 Td (a) Tj T* (b) Tj ET")
        assert [r.text for r in runs] == ["a", "b"]
        assert runs[1].baseline - runs[0].baseline == pytest.approx(2)

    def test_quote_ops(self):
        runs, _ = _page(b"BT /F1 10 Tf 12 TL 100 700 Td (a) Tj (b) ' 1 2 (c) \" ET")
        assert [r.text for r in runs] == ["a", "b", "c"]

    def test_tj_array_kern_space(self):
        # -400/1000 em exceeds the 0.18 em word-space threshold
        runs, _ = _page(b"BT /F1 10 Tf 100 700 Td [(Hello) -400 (World)] TJ ET")
        assert runs[0].text == "Hello World"

    def test_tj_small_kern_no_space(self):
        runs, _ = _page(b"BT /F1 10 Tf 100 700 Td [(Ke) -40 (rn)] TJ ET")
        assert runs[0].text == "Kern"

    def test_advance_accumulates(self):
        runs, _ = _page(b"BT /F1 10 Tf 100 700 Td (AB) Tj (CD) Tj ET")
        assert len(runs) == 2
        assert runs[1].left > runs[0].left
        # Helvetica A=667 B=667 at 10pt → 13.34
        assert runs[1].left - runs[0].left == pytest.approx(13.34, abs=0.1)

    def test_rotated_tm(self):
        # 90° rotation matrix
        runs, _ = _page(b"BT /F1 10 Tf 0 1 -1 0 300 300 Tm (rot) Tj ET")
        assert runs[0].angle in (90, 270)

    def test_rg_color(self):
        runs, _ = _page(b"1 0 0 rg BT /F1 10 Tf 100 700 Td (red) Tj ET")
        assert runs[0].color == "#ff0000"

    def test_q_Q_restores_ctm(self):
        runs, _ = _page(
            b"q 2 0 0 2 0 0 cm BT /F1 10 Tf 100 350 Td (big) Tj ET Q "
            b"BT /F1 10 Tf 100 700 Td (norm) Tj ET"
        )
        big = next(r for r in runs if r.text == "big")
        norm = next(r for r in runs if r.text == "norm")
        assert big.size == pytest.approx(20)
        assert norm.size == pytest.approx(10)

    def test_tz_horizontal_scale(self):
        runs, _ = _page(b"BT /F1 10 Tf 50 Tz 100 700 Td (half) Tj ET")
        runs2, _ = _page(b"BT /F1 10 Tf 100 700 Td (half) Tj ET")
        assert runs[0].width == pytest.approx(runs2[0].width / 2, rel=0.01)

    def test_tj_array_exotic_elements_inert(self):
        # comments, nested arrays, dicts, names and non-hex bytes in a
        # hex string sit inside the array; only strings and kerns show
        runs, _ = _page(
            b"BT /F1 10 Tf 100 700 Td [(He) %c\n [1 [2]] << /K [3] >> "
            b"/N <6C 6Cz> {} (o) -400 (World)] TJ ET"
        )
        assert [r.text for r in runs] == ["Hello World"]

    def test_keyword_in_array_is_inert(self):
        # a keyword inside an array is an element, never an operator:
        # the ' does not move the line down one leading mid-array
        runs, _ = _page(
            b"BT /F1 10 Tf 60 700 Td 14 TL [(a) '] TJ (tail) Tj ET")
        assert [(r.text, r.top) for r in runs] == [
            ("a", pytest.approx(82.0)), ("tail", pytest.approx(82.0))]

    def test_deeply_nested_array_does_not_recurse_unbounded(self):
        runs, _ = _page(b"BT /F1 10 Tf 60 700 Td " + b"[" * 5000
                        + b"]" * 5000 + b" TJ (x) Tj ET")
        assert [r.text for r in runs] == ["x"]

    def test_inline_image_skipped_and_recorded(self):
        runs, media = _page(
            b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00\x01\x02\x03 EI\n"
            b"BT /F1 10 Tf 100 700 Td (after) Tj ET"
        )
        assert [r.text for r in runs] == ["after"]
        assert len(media) == 1

    def test_unmapped_glyph_dropped(self):
        dec = FontDecoder.__new__(FontDecoder)
        dec.code_bytes = 1
        dec.tounicode = {}
        dec.enc_table = {}
        dec.widths = {}
        dec.default_w = 500.0
        dec.basefont = ""
        dec.is_cid = True
        dec.cid_ucs2 = False
        dec._code_table = {}
        out = dec.decode(b"\x01")
        assert out == [(1, "", 500.0)]

    def test_differences_stay_with_their_font(self):
        # the base tables are shared per process; /Differences must not
        # leak from one font's copy into another's
        doc = PDFDocument(synth_pdf(0))

        def font(encoding):
            return {"Type": Name("Font"), "Subtype": Name("Type1"),
                    "BaseFont": Name("Helvetica"), "Encoding": encoding}

        def diffs(*items):
            return {"BaseEncoding": Name("WinAnsiEncoding"),
                    "Differences": list(items)}

        a = FontDecoder(doc, font(diffs(65, Name("B"))), "F1")
        b = FontDecoder(doc, font(diffs(65, Name("C"))), "F2")
        plain = FontDecoder(doc, font(Name("WinAnsiEncoding")), "F3")
        assert a.decode_agg(b"AB")[0] == "BB"
        assert b.decode_agg(b"AB")[0] == "CB"
        assert plain.decode_agg(b"AB")[0] == "AB"

    def test_unknown_differences_name_drops_at_every_code(self):
        # an unknown glyph name is dropped whether its code is printable
        # ASCII or not; a ToUnicode entry for the code still wins
        doc = PDFDocument(synth_pdf(0))
        font = {"Type": Name("Font"), "Subtype": Name("Type1"),
                "BaseFont": Name("Helvetica"),
                "Encoding": {"BaseEncoding": Name("WinAnsiEncoding"),
                             "Differences": [65, Name("C"),
                                             Name("nosuchglyph"),
                                             200, Name("nosuchglyph")]}}
        dec = FontDecoder(doc, font, "F1")
        assert dec.decode_agg(b"AB\xc8")[0] == "C"
        dec = FontDecoder(doc, font, "F1")
        dec.tounicode = {0x42: "b"}
        assert dec.decode_agg(b"AB\xc8")[0] == "Cb"


class TestToUnicode:
    def test_bfchar(self):
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n"
            b"begincodespacerange <00> <FF> endcodespacerange\n"
            b"2 beginbfchar <41> <0042> <42> <00630064> endbfchar\n"
        )
        m, nb = parse_tounicode(cmap)
        assert nb == 1
        assert m[0x41] == "B"
        assert m[0x42] == "cd"

    def test_bfrange_increment(self):
        cmap = b"1 beginbfrange <20> <23> <0061> endbfrange"
        m, _ = parse_tounicode(cmap)
        assert m[0x20] == "a" and m[0x23] == "d"

    def test_bfrange_array(self):
        cmap = b"1 beginbfrange <01> <02> [<0058> <0059>] endbfrange"
        m, _ = parse_tounicode(cmap)
        assert m[1] == "X" and m[2] == "Y"

    def test_two_byte_codespace(self):
        cmap = (
            b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfchar <0041> <0041> endbfchar"
        )
        m, nb = parse_tounicode(cmap)
        assert nb == 2
        assert m[0x41] == "A"


class TestMatrices:
    def test_mul_identity(self):
        ident = (1, 0, 0, 1, 0, 0)
        m = (2, 0, 0, 3, 5, 7)
        assert mat_mul(m, ident) == m
        assert mat_mul(ident, m) == m

    def test_base_ctm_flips_y(self):
        ctm = base_ctm((0, 0, 612, 792), 0)
        assert mat_apply(ctm, 0, 792) == (0, 0)
        assert mat_apply(ctm, 0, 0) == (0, 792)

    @pytest.mark.parametrize("rot", [90, 180, 270])
    def test_base_ctm_rotations_keep_onpage(self, rot):
        ctm = base_ctm((0, 0, 612, 792), rot)
        w, h = (792, 612) if rot in (90, 270) else (612, 792)
        for x, y in [(0, 0), (612, 0), (0, 792), (612, 792)]:
            dx, dy = mat_apply(ctm, x, y)
            assert -1 <= dx <= w + 1
            assert -1 <= dy <= h + 1


def test_content_stream_name_hash_escapes():
    """#XX escapes in content-stream names decode so font lookups match
    the resource-dict side (which already decodes them): /F#31 == /F1."""
    from pdf_extract_spark.operators.extract import extract_pdf

    parts = ["BT", "/F#31 12 Tf", "72 700 Td", "(Escaped font name) Tj", "ET"]
    stream = "\n".join(parts).encode()
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >>"
        b" /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /Name /F1 /BaseFont /Helvetica >>",
    ]
    buf = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, body in enumerate(objs, start=1):
        offs.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(buf)
    buf += f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode()
    for off in offs:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objs)+1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()

    res = extract_pdf(bytes(buf))
    assert res.error is None
    assert [t for k, t, _, _ in res.spans if k == "text"] == ["Escaped font name"]


def test_draw_run_skip_preserves_handled_operands():
    """The drawing-run fast skip must NOT swallow numbers that belong
    to a following HANDLED op: here a path run precedes cm (translation)
    and rg (fill color) — both must still take effect."""
    from pdf_extract_spark.functions.textops import interpret_page
    from pdf_extract_spark.sources.pdfparse import PDFDocument

    content = (
        b"0.5 w 10 10 m 20 20 l 30 10 40 0 50 10 c S "  # drawing run
        b"1 0 0 1 100 50 cm "                            # handled: cm
        b"0 0 1 rg "                                     # handled: rg
        b"BT /F1 12 Tf 10 700 Td (Hello) Tj ET"
    )
    doc = PDFDocument.__new__(PDFDocument)
    doc.objects = {}
    doc.trailer = {}
    doc.crypt = None
    res = {"Font": {"F1": {"Subtype": "Type1", "BaseFont": "Helvetica"}}}
    runs, medias = interpret_page(
        doc, 1, content, res, (0, 0, 612, 792), 0, {}
    )
    assert len(runs) == 1
    r = runs[0]
    assert r.text == "Hello"
    # cm translation applied: x = 10 + 100 (cm) in device space
    assert abs(r.left - 110.0) < 0.5
    assert r.color == "#0000ff"  # rg applied after the drawing run


def test_draw_run_skip_stops_at_names_and_arrays():
    """Operand-typed unhandled ops (gs with a name, d with an array)
    break the drawing run at their delimiters and stay inert."""
    from pdf_extract_spark.functions.textops import interpret_page
    from pdf_extract_spark.sources.pdfparse import PDFDocument

    content = (
        b"/GS0 gs [3 1] 0 d 5 5 m 9 9 l S "
        b"BT /F1 10 Tf 0 0 Td (X) Tj ET"
    )
    doc = PDFDocument.__new__(PDFDocument)
    doc.objects = {}
    doc.trailer = {}
    doc.crypt = None
    res = {"Font": {"F1": {"Subtype": "Type1", "BaseFont": "Helvetica"}}}
    runs, _ = interpret_page(doc, 1, content, res, (0, 0, 612, 792), 0, {})
    assert [r.text for r in runs] == ["X"]
