import os
import random
import sys
import zlib

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = "/root/reference/Test/pdf-in"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.ui.enabled", "false")
        .appName("pdfx-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def corpus_frame(spark, n_docs: int):
    """A small driver-side corpus of ``corpus.make_doc`` rows under the
    explicit ``pipeline.INPUT_SCHEMA``, so span structs never infer as
    maps."""
    from pdf_extract_spark.plans.pipeline import INPUT_SCHEMA
    from pdf_extract_spark.sources.corpus import make_doc

    docs = [make_doc(i) for i in range(n_docs)]
    return spark.createDataFrame(
        [(d["doc_id"], d["spans"]) for d in docs], INPUT_SCHEMA)


def fixture_bytes(name: str) -> bytes | None:
    path = os.path.join(FIXTURE_DIR, name)
    if not os.path.exists(path):
        return None
    with open(path, "rb") as fh:
        return fh.read()


_KERN_WORDS = (
    "typeset kerning moves glyphs closer where pairs like AV To Wa and "
    "ye look loose; readers rarely notice but extraction must join the "
    "pieces back into words and split words at wide gaps (see note) "
    "across lines columns headings captions and footnotes"
).split()


def _lit(s: str) -> str:
    return "(" + s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)") + ")"


def _kerned_array(rng, words) -> str:
    """One TJ array: words split into kerned pieces, wide negative kerns
    as word gaps, and inert extras (comments, nested arrays, dicts,
    names) that show() ignores."""
    items = []
    for wi, w in enumerate(words):
        if wi:
            items.append(str(rng.choice((-250, -333, -480.5, -600))))
        cut = rng.randrange(1, len(w)) if len(w) > 1 else 1
        for k, piece in enumerate((w[:cut], w[cut:])):
            if not piece:
                continue
            if k:
                items.append(str(rng.choice((-40, -12.5, 8, 30, "-.5"))))
            if rng.random() < 0.2:
                hx = piece.encode("latin-1").hex()
                items.append("<" + hx[:2] + " " + hx[2:] + ">")
            else:
                items.append(_lit(piece))
        extra = rng.random()
        if extra < 0.04:
            items.append("% kern table\n")
        elif extra < 0.07:
            items.append("[1 2 [3]]")
        elif extra < 0.09:
            items.append("<< /K 1 /L [4 5] >>")
        elif extra < 0.11:
            items.append("/Span")
    return "[" + " ".join(items) + "]"


def _png_encode(data: bytes, columns: int) -> bytes:
    """PNG-predict ``data`` (1 byte per pixel), the scanline filter
    cycling through None, Sub, Up, Average and Paeth row by row."""
    data += b" " * (-len(data) % columns)
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(data), columns):
        row = data[r:r + columns]
        ft = (r // columns) % 5
        out.append(ft)
        for j, x in enumerate(row):
            a = row[j - 1] if j else 0
            b = prev[j]
            c = prev[j - 1] if j else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            paeth = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((x - (0, a, b, (a + b) >> 1, paeth)[ft]) & 0xFF)
        prev = row
    return bytes(out)


def kerned_pdf(seed: int, n_pages: int = 2, flate: bool = False) -> bytes:
    """Deterministic PDF in the shape of typeset output: kerned ``TJ``
    arrays (kern numbers, hex strings, escaped parens, and comments,
    nested arrays, dicts and names inside arrays), ``T* TD ' "`` line
    moves, ``Tc Tw Tz`` spacing, fill colour, two fonts and one rotated
    ``Tm`` margin note per page. ``flate`` Flate-compresses every content
    stream; odd pages then also carry a PNG predictor."""
    rng = random.Random(seed)
    page_ids = [5 + 2 * p for p in range(n_pages)]
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (f"<< /Type /Pages /Count {n_pages} /Kids [ "
         + " ".join(f"{i} 0 R" for i in page_ids) + " ] >>").encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Bold"
        b" /Encoding /WinAnsiEncoding >>",
    ]
    for p, pid in enumerate(page_ids):
        objs.append((
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            f" /Resources << /Font << /F1 3 0 R /F2 4 0 R >> >>"
            f" /Contents {pid + 1} 0 R >>").encode())
        parts = ["BT /F2 16 Tf 72 740 Td",
                 _kerned_array(rng, rng.sample(_KERN_WORDS, 4)) + " TJ",
                 "/F1 10 Tf 14 TL 0 -30 Td"]
        for i in range(rng.randint(14, 24)):
            words = [rng.choice(_KERN_WORDS) for _ in range(rng.randint(4, 10))]
            mode = rng.random()
            if mode < 0.6:
                parts.append("T* " + _kerned_array(rng, words) + " TJ")
            elif mode < 0.72:
                parts.append(_lit(" ".join(words)) + " '")
            elif mode < 0.84:
                parts.append(f"{rng.choice((0, 1.5))} {rng.choice((0, 0.2))} "
                             + _lit(" ".join(words)) + ' "')
            else:
                parts.append("0 -14 TD " + _kerned_array(rng, words) + " TJ")
            if rng.random() < 0.1:
                parts.append(rng.choice(("0.8 0 0 rg", "0 0 0 rg", "0.3 g")))
            if rng.random() < 0.1:
                parts.append(rng.choice(("0.3 Tc", "0 Tc", "1 Tw 95 Tz",
                                         "0 Tw 100 Tz")))
        parts.append("ET BT /F1 8 Tf 0 1 -1 0 40 300 Tm "
                     + _kerned_array(rng, ["margin", "note", str(p + 1)])
                     + " TJ ET")
        body = "\n".join(parts).encode("latin-1")
        head = b""
        if flate:
            if p % 2:
                body = _png_encode(body, 37)
                head = b" /DecodeParms << /Predictor 15 /Columns 37 >>"
            body = zlib.compress(body)
            head = b" /Filter /FlateDecode" + head
        objs.append(b"<< /Length " + str(len(body)).encode() + head
                    + b" >>\nstream\n" + body + b"\nendstream")
    return write_pdf(objs)


def write_pdf(objs: list[bytes]) -> bytes:
    """A PDF file of ``objs`` (object bodies numbered from 1, the first
    the catalog) with its xref table and trailer."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(buf)
    buf += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(buf)
