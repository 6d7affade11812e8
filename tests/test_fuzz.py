"""Deterministic corruption fuzz: at web scale malformed PDFs are
guaranteed — every corruption must yield a DocResult (spans or a
structured error row), never an exception escaping the UDF (the S8
error-sink contract, Common.java:588-607 / SURVEY.md §2.1)."""

import random

import pytest

from pdf_extract_spark.operators.extract import extract_pdf
from pdf_extract_spark.sources.corpus import synth_pdf
from tests.conftest import fixture_bytes, kerned_pdf

#: in-repo sources, so the fuzz runs in every environment; the
#: reference fixtures are extra cases when present
_IN_REPO = {
    "synth_pdf": lambda: synth_pdf(7, n_pages=3),
    "kerned_pdf": lambda: kerned_pdf(7, n_pages=3),
    "kerned_pdf_flate": lambda: kerned_pdf(8, n_pages=3, flate=True),
}


def _corrupt(src: bytes, seed: int) -> bytes:
    rng = random.Random(seed)
    data = bytearray(src)
    mode = seed % 4
    if mode == 0:  # random byte flips
        for _ in range(rng.randint(1, 50)):
            data[rng.randrange(len(data))] = rng.randrange(256)
    elif mode == 1:  # truncation
        data = data[: rng.randrange(1, len(data))]
    elif mode == 2:  # garbage splice
        i = rng.randrange(len(data))
        data[i:i] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 500)))
    else:  # chunk deletion
        i = rng.randrange(len(data))
        del data[i : min(len(data), i + rng.randint(1, 2000))]
    return bytes(data)


@pytest.mark.parametrize("fixture", [*_IN_REPO, "sample.pdf", "sample2.pdf",
                                     "sample3.pdf"])
def test_corrupted_pdfs_never_raise(fixture):
    src = _IN_REPO[fixture]() if fixture in _IN_REPO else fixture_bytes(fixture)
    if src is None:
        pytest.skip("reference fixtures unavailable")
    for seed in range(80):
        res = extract_pdf(_corrupt(src, seed), max_pages=8)
        assert res is not None  # DocResult with spans or error — no throw


def test_corrupted_encrypted_pdf_never_raises():
    from tests.test_pdfcrypt import _perm, make_encrypted_pdf

    src = make_encrypted_pdf(2, 3, 128, _perm(3, 5, 12))
    for seed in range(80):
        res = extract_pdf(_corrupt(src, seed), max_pages=8)
        assert res is not None


def test_garbage_inputs_never_raise():
    for payload in (b"", b"%PDF-", b"%PDF-1.4\n\x00\xff" * 100,
                    b"not a pdf at all", b"%PDF-1.4\n1 0 obj\n<<",
                    bytes(range(256)) * 4):
        res = extract_pdf(payload)
        assert res.error is not None
        assert res.spans == []


def test_corrupted_aes_pdf_never_raises():
    from tests.test_pdfcrypt import _perm, make_encrypted_pdf, make_encrypted_pdf_v5

    for src in (make_encrypted_pdf(4, 4, 128, _perm(3, 5, 12), cfm="AESV2"),
                make_encrypted_pdf_v5(6, _perm(3, 5, 12))):
        for seed in range(40):
            res = extract_pdf(_corrupt(src, seed), max_pages=8)
            assert res is not None


def test_media_decoders_never_raise():
    """The media decode tier faces arbitrary web bytes: every corruption
    of a valid PNG/JPEG(baseline+progressive)/GIF/BMP/WAV — plus pure
    random payloads — returns a value or None, never an exception
    (sniff_decode is the per-payload S8 analogue)."""
    import struct
    import sys

    sys.path.insert(0, "tests")
    import numpy as np
    from jpeg_encoder import encode_jpeg, encode_jpeg_progressive

    from pdf_extract_spark.functions.mediacodec import sniff_decode
    from tests.test_multimodal import TestGifPixelDecode, TestPngPixelDecode

    grad = np.add.outer(np.arange(16) * 8.0, np.arange(16) * 4.0) % 256
    gif_px = [[(r * 8 + c) % 256 for c in range(16)] for r in range(16)]
    stride = ((16 * 3) + 3) & ~3
    bmp_px = bytearray()
    for r in range(16):
        bmp_px += bytes(b for c in range(16)
                        for b in (c * 8, r * 8, 128)) \
            + b"\x00" * (stride - 48)
    bmp = (b"BM" + struct.pack("<IHHI", 54 + len(bmp_px), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 16, 16, 1, 24, 0,
                         len(bmp_px), 2835, 2835, 0, 0) + bmp_px)
    import io
    import wave

    wbuf = io.BytesIO()
    with wave.open(wbuf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(bytes(256))

    bases = [
        TestPngPixelDecode._png(16, 16, lambda r, c: (int(grad[r][c]),) * 3,
                                row_filters=[0, 1, 2, 3, 4]),
        TestPngPixelDecode._png(16, 16, lambda r, c: (int(grad[r][c]),) * 3,
                                interlace=1),
        bytes(encode_jpeg(grad)),
        bytes(encode_jpeg_progressive(grad)),
        TestGifPixelDecode._gif(gif_px),
        bmp,
        wbuf.getvalue(),
    ]
    rng = random.Random(99)
    for base in bases:
        for seed in range(40):
            out = sniff_decode(_corrupt(base, seed))
            assert out is None or isinstance(out, dict)
    for _ in range(60):  # pure random payloads
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(1, 4000)))
        out = sniff_decode(blob)
        assert out is None or isinstance(out, dict)
