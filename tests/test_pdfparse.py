"""Unit tests: PDF object layer (sources/pdfparse)."""

import zlib

import pytest

from pdf_extract_spark.sources.pdfparse import (
    Name,
    PDFDocument,
    Ref,
    decode_stream,
    parse_object,
)
from pdf_extract_spark.sources.corpus import synth_pdf
from tests.conftest import fixture_bytes


class TestLexer:
    def test_dict(self):
        obj, _ = parse_object(b"<< /Type /Page /Count 3 /F 1.5 >>", 0)
        assert obj == {"Type": "Page", "Count": 3, "F": 1.5}
        assert isinstance(obj["Type"], Name)

    def test_nested(self):
        obj, _ = parse_object(b"<< /A << /B [1 2 (x)] >> >>", 0)
        assert obj["A"]["B"] == [1, 2, b"x"]

    def test_ref(self):
        obj, _ = parse_object(b"12 0 R", 0)
        assert obj == Ref(12, 0)

    def test_numbers_vs_refs_in_array(self):
        obj, _ = parse_object(b"[1 2 3 0 R 4]", 0)
        assert obj == [1, 2, Ref(3, 0), 4]

    def test_literal_string_escapes(self):
        obj, _ = parse_object(rb"(a\(b\)c \\ \101 \n)", 0)
        assert obj == b"a(b)c \\ A \n"

    def test_balanced_parens(self):
        obj, _ = parse_object(b"(a (nested) b)", 0)
        assert obj == b"a (nested) b"

    def test_hex_string(self):
        obj, _ = parse_object(b"<48656C6C 6F>", 0)
        assert obj == b"Hello"

    def test_name_hash_escape(self):
        obj, _ = parse_object(b"/A#20B", 0)
        assert obj == "A B"

    def test_booleans_null(self):
        assert parse_object(b"true", 0)[0] is True
        assert parse_object(b"false", 0)[0] is False
        assert parse_object(b"null", 0)[0] is None

    def test_comment_skipped(self):
        obj, _ = parse_object(b"% comment\n42", 0)
        assert obj == 42


class TestFilters:
    def test_flate(self):
        raw = zlib.compress(b"hello world")
        assert decode_stream({"Filter": Name("FlateDecode")}, raw) == b"hello world"

    def test_filter_chain_ahx_flate(self):
        payload = zlib.compress(b"xyz")
        hx = payload.hex().encode() + b">"
        out = decode_stream(
            {"Filter": [Name("ASCIIHexDecode"), Name("FlateDecode")]}, hx
        )
        assert out == b"xyz"

    def test_png_predictor_up(self):
        # predictor 12 (PNG Up), columns=4: rows [1,2,3,4] then +[1,1,1,1]
        rows = bytes([2, 1, 2, 3, 4]) + bytes([2, 1, 1, 1, 1])
        raw = zlib.compress(rows)
        out = decode_stream(
            {
                "Filter": Name("FlateDecode"),
                "DecodeParms": {"Predictor": 12, "Columns": 4},
            },
            raw,
        )
        assert out == bytes([1, 2, 3, 4, 2, 3, 4, 5])

    def test_png_predictor_sub_average_paeth(self):
        # columns=4, 1 byte per pixel: Sub, Average and Paeth rows, then
        # a row with an unknown filter type (7), which passes through
        rows = (bytes([1, 1, 1, 1, 1]) + bytes([3, 5, 3, 3, 3])
                + bytes([4, 4, 249, 5, 12]) + bytes([7, 1, 2, 3, 4]))
        out = decode_stream(
            {
                "Filter": Name("FlateDecode"),
                "DecodeParms": {"Predictor": 15, "Columns": 4},
            },
            zlib.compress(rows),
        )
        assert out == bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 2, 7, 20, 1, 2, 3, 4])

    def test_unknown_filter_returns_raw(self):
        assert decode_stream({"Filter": Name("DCTDecode")}, b"jpeg") == b"jpeg"


class TestDocument:
    def test_synth_pdf_pages(self):
        doc = PDFDocument(synth_pdf(1, n_pages=3))
        pages = doc.pages()
        assert len(pages) == 3
        assert pages[0].width == 612 and pages[0].height == 792
        assert b"Tj" in pages[0].content

    def test_max_pages_cap(self):
        doc = PDFDocument(synth_pdf(1, n_pages=5), max_pages=2)
        assert len(doc.pages()) == 2

    def test_not_a_pdf(self):
        from pdf_extract_spark.sources.pdfparse import PDFParseError

        with pytest.raises(PDFParseError):
            PDFDocument(b"this is not a pdf at all")

    def test_junk_prefix_tolerated(self):
        doc = PDFDocument(b"JUNKJUNK" + synth_pdf(2))
        assert len(doc.pages()) >= 1

    @pytest.mark.parametrize(
        "name,n_pages",
        [("sample.pdf", 2), ("sample2.pdf", 2), ("sample3.pdf", 4), ("sample4.pdf", 112)],
    )
    def test_reference_fixture_page_counts(self, name, n_pages):
        data = fixture_bytes(name)
        if data is None:
            pytest.skip("reference fixtures unavailable")
        assert len(PDFDocument(data).pages()) == n_pages


def test_runlength_decode_filter():
    """RunLengthDecode (PDF §7.4.5): literal runs, replicate runs, EOD."""
    from pdf_extract_spark.sources.pdfparse import decode_stream

    # literal "AB", replicate "C"*4, EOD, trailing junk ignored
    enc = bytes([1]) + b"AB" + bytes([253]) + b"C" + bytes([128]) + b"xx"
    out = decode_stream({"Filter": "RunLengthDecode"}, enc)
    assert out == b"ABCCCC"
    assert decode_stream({"Filter": "RL"}, enc) == b"ABCCCC"
