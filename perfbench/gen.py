"""Seeded inputs for the benchmark workloads.

Every byte is derived from ``(workload, seed, cores)`` alone: no file
outside the checkout is read, so no part of an input (such as the skew
tail) can silently go missing. Tables are written with pyarrow straight
from the generator, in the shapes ``run_pipeline`` (doc_id, spans) and
``dedup_minhash_lsh`` (``documents.parquet``) read.

Sizes scale with the core count: the one-slot run reads the first
``1/cores`` of a workload's rows, the same work per slot as the full run
(weak scaling).
"""

from __future__ import annotations

import base64
import hashlib
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extract_spark.sources.corpus import synth_pdf

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
PIPELINE_SCHEMA = pa.schema([("doc_id", pa.string()),
                             ("spans", pa.list_(SPAN))])
DOCUMENTS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                              ("lang", pa.string()), ("source", pa.string()),
                              ("n_chars", pa.int64())])

SMALL_DOCS_PER_CORE = 600
SMALL_FILES_PER_CORE = 8
SKEW_DOCS_PER_CORE = 100
SKEW_FILES = 2
HEAVY_EVERY = 50          # one doc in 50 is a heavy PDF
HEAVY_PAGES = 110
HEAVY_LINES_PER_PAGE = 30
HEAVY_PATHS_PER_PAGE = 400
HEAVY_IMAGE_BYTES = 15_000  # opaque DCT payload per page: pushes a heavy
                            # doc past the pipeline's big-doc lane threshold
# The near-dup table follows the documents table of the repository's
# sf0.1 test data (5,000 docs), measured once by hand: 10-100 words a doc,
# uniform (mean 54); 30 words of 1-8 letters (mean 4.5), used uniformly;
# 5% of docs are a copy of another doc with the token "dup" appended
# (their jaccard to the original is 0.94-0.99); lang en 41%, zh, es, fr,
# de about 15% each; source is doc_id mod 20. Table size: 12,500 docs per
# core is 10x sf0.1 at 4 cores.
NEARDUP_DOCS_PER_CORE = 12_500
NEARDUP_FILES_PER_CORE = 2
NEARDUP_WORDS = (10, 100)
# letters of each vocabulary word, as counted in sf0.1's 30 words
NEARDUP_WORD_LENGTHS = (1,) + (3,) * 5 + (4,) * 9 + (5,) * 9 + (6,) * 5 + (8,)
NEARDUP_SHARE = 0.05      # docs that are a copy of an earlier doc
NEARDUP_MARK = "dup"      # the token appended to a copy
NEARDUP_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
                 ("de", 0.14))
NEARDUP_SOURCES = 20

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _words(rng: random.Random, n: int) -> list[str]:
    return ["".join(rng.choice(_LETTERS) for _ in range(rng.randint(2, 9)))
            for _ in range(n)]


def heavy_pdf(rng: random.Random) -> bytes:
    """A 100+-page PDF with FlateDecode content streams, heavy path
    drawing and one opaque image per page — the shape of the skew tail
    (a doc costing ~100x a light one)."""
    vocab = _words(rng, 300)
    n = HEAVY_PAGES
    page_ids = [4 + 3 * p for p in range(n)]
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        (f"<< /Type /Pages /Count {n} /Kids [ "
         + " ".join(f"{i} 0 R" for i in page_ids) + " ] >>").encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>",
    ]
    for pid in page_ids:
        objs.append((
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            f" /Resources << /Font << /F1 3 0 R >>"
            f" /XObject << /Im1 {pid + 2} 0 R >> >> /Contents {pid + 1} 0 R >>"
        ).encode())
        parts = ["BT /F1 10 Tf 60 740 Td 12 TL"]
        for _ in range(HEAVY_LINES_PER_PAGE):
            line = " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 12)))
            parts.append(f"({line.capitalize()}.) Tj T*")
        parts.append("ET q 0.4 w")
        for _ in range(HEAVY_PATHS_PER_PAGE):
            x, y = rng.uniform(20, 590), rng.uniform(20, 770)
            if rng.random() < 0.5:
                parts.append(f"{x:.2f} {y:.2f} m {x + rng.uniform(-40, 40):.2f}"
                             f" {y + rng.uniform(-40, 40):.2f} l S")
            else:
                parts.append(f"{x:.2f} {y:.2f} {rng.uniform(1, 30):.2f}"
                             f" {rng.uniform(1, 30):.2f} re f")
        parts.append("Q q 200 0 0 150 300 60 cm /Im1 Do Q")
        body = zlib.compress("\n".join(parts).encode("latin-1"))
        objs.append(b"<< /Length " + str(len(body)).encode()
                    + b" /Filter /FlateDecode >>\nstream\n" + body
                    + b"\nendstream")
        img = rng.randbytes(HEAVY_IMAGE_BYTES)
        objs.append(b"<< /Type /XObject /Subtype /Image /Width 100 /Height 100"
                    b" /ColorSpace /DeviceRGB /BitsPerComponent 8"
                    b" /Filter /DCTDecode /Length " + str(len(img)).encode()
                    + b" >>\nstream\n" + img + b"\nendstream")
    buf = bytearray(b"%PDF-1.5\n")
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


def pipeline_doc(rng: random.Random, doc_id: str, heavy: bool) -> dict:
    """One interleaved doc: a PDF (1-3-page synthetic, or heavy) plus
    0-3 text/media spans placed before or after it."""
    pdf = heavy_pdf(rng) if heavy else synth_pdf(
        rng.getrandbits(31), n_pages=rng.randint(1, 3),
        lines_per_page=rng.randint(12, 28))
    extras = []
    for _ in range(rng.randint(0, 3)):
        if rng.random() < 0.5:
            extras.append(("text", f"Note {rng.randint(1, 999)} filed with"
                           f" document {doc_id}.", ""))
        else:
            extras.append(("media", "",
                           f"img://ext/{doc_id}/{rng.randint(0, 9999)}"))
    extras.insert(rng.randint(0, len(extras)),
                  ("pdf", base64.b64encode(pdf).decode("ascii"), ""))
    return {"doc_id": doc_id, "spans": [
        {"kind": k, "text": t, "media_ref": m, "offset": i}
        for i, (k, t, m) in enumerate(extras)]}


def _row_bytes(row: dict) -> bytes:
    if "spans" in row:
        parts = [row["doc_id"]] + [
            f"{s['kind']}\x1f{s['text']}\x1f{s['media_ref']}\x1f{s['offset']}"
            for s in row["spans"]]
    else:
        parts = [str(row["doc_id"]), row["text"], row["lang"], row["source"]]
    return "\x1e".join(parts).encode("utf-8")


def digest(rows: list[dict]) -> str:
    """sha256 of the rows' content, in order."""
    h = hashlib.sha256()
    for row in rows:
        h.update(_row_bytes(row))
    return h.hexdigest()


def write_table(rows: list[dict], path: str, n_files: int,
                schema: pa.Schema) -> None:
    """Write rows as ``n_files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        if chunk:
            pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                           os.path.join(path, f"part-{k:05d}.parquet"))


def pipeline_rows(workload: str, seed: int, n_docs: int,
                  heavy_every: int | None) -> list[dict]:
    """``n_docs`` interleaved docs; with ``heavy_every``, the last doc of
    each run of ``heavy_every`` is heavy.

    The seed decides content only: doc_ids and heavy positions are fixed,
    so the engine's hash and round-robin placement of the heavy docs, which
    sets the straggler, is the same for every seed."""
    rng = random.Random(f"{workload}/{seed}")
    return [pipeline_doc(rng, f"{workload[9:11]}-{i:06d}",
                         heavy_every is not None
                         and i % heavy_every == heavy_every - 1)
            for i in range(n_docs)]


def pdf_payloads(row: dict) -> list[bytes]:
    return [base64.b64decode(s["text"]) for s in row["spans"]
            if s["kind"] == "pdf"]


def neardup_rows(seed: int, n_docs: int) -> list[dict]:
    """``documents.parquet`` rows shaped like the sf0.1 documents table
    (see ``NEARDUP_*``): uniform random-vocabulary docs, a seeded share of
    them copies of an earlier doc with ``NEARDUP_MARK`` appended."""
    rng = random.Random(f"neardup/{seed}")
    vocab: list[str] = []
    for n in NEARDUP_WORD_LENGTHS:
        w = NEARDUP_MARK
        while w in vocab or w == NEARDUP_MARK:
            w = "".join(rng.choice(_LETTERS) for _ in range(n))
        vocab.append(w)
    langs, weights = zip(*NEARDUP_LANGS)
    texts: list[str] = []
    originals: list[str] = []
    for _ in range(n_docs):
        if originals and rng.random() < NEARDUP_SHARE:
            texts.append(f"{rng.choice(originals)} {NEARDUP_MARK}")
        else:
            originals.append(" ".join(rng.choice(vocab) for _ in
                                      range(rng.randint(*NEARDUP_WORDS))))
            texts.append(originals[-1])
    return [{"doc_id": i, "text": t, "lang": rng.choices(langs, weights)[0],
             "source": f"src{i % NEARDUP_SOURCES}", "n_chars": len(t)}
            for i, t in enumerate(texts)]
