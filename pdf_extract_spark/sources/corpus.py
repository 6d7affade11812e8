"""Deterministic synthetic corpus of interleaved text+media documents.

Builds the north-rule input table shape (doc_id, spans) at any scale.
Every pdf payload comes from ``synth_pdf``, a from-scratch minimal PDF
writer (uncompressed streams, Helvetica Tj/Td), so the corpus needs no
external data at all and has the same rows on every machine.

Everything is seeded from doc_id → fully deterministic at any scale and
any partitioning (the corpus can be generated distributedly with
``spark.range(n)`` + ``runtime.map_rows``, no driver-side
materialization).
"""

from __future__ import annotations

import base64
import random

_WORDS = (
    "the quick brown fox jumps over a lazy dog while many readers scan "
    "pages of text looking for meaning in long documents about science "
    "history travel finance weather music and art with careful attention "
    "to detail and structure across paragraphs sections and chapters"
).split()


def synth_pdf(seed: int, n_pages: int = 2, lines_per_page: int = 20) -> bytes:
    """Deterministic minimal PDF: uncompressed streams, Helvetica, Td/Tj."""
    rng = random.Random(seed)
    objs: list[bytes] = []

    def text_line(i: int) -> str:
        n = rng.randint(5, 11)
        words = [_WORDS[rng.randrange(len(_WORDS))] for _ in range(n)]
        if i == 0:
            return " ".join(words[:4]).title()
        s = " ".join(words)
        return s[0].upper() + s[1:] + rng.choice([".", ".", ",", ""])

    page_obj_ids = [4 + 2 * p for p in range(n_pages)]
    kids = " ".join(f"{oid} 0 R" for oid in page_obj_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objs.append(
        f"<< /Type /Pages /Count {n_pages} /Kids [ {kids} ] >>".encode()
    )  # 2
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /Name /F1 /BaseFont /Helvetica"
        b" /Encoding /WinAnsiEncoding >>"
    )  # 3
    for p in range(n_pages):
        content_id = page_obj_ids[p] + 1
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 3 0 R >>"
                f" >> /MediaBox [0 0 612 792] /Contents {content_id} 0 R >>"
            ).encode()
        )
        parts = ["BT", "/F1 18 Tf", "57 722 Td", f"({text_line(0)}) Tj", "ET"]
        y = 680
        parts.append("BT")
        parts.append("/F1 10 Tf")
        parts.append(f"69 {y} Td")
        for i in range(1, lines_per_page):
            parts.append(f"({text_line(i)}) Tj")
            parts.append("0 -12 Td")
        parts.append("ET")
        stream = "\n".join(parts).encode("latin-1")
        objs.append(
            b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
            + stream + b"\nendstream"
        )

    buf = bytearray(b"%PDF-1.3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(buf)
    buf += f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode()
    for off in offsets[1:]:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (
        f"trailer\n<< /Size {len(objs)+1} /Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(buf)


def make_doc(doc_idx: int) -> dict:
    """One deterministic interleaved document row (doc_id, spans).

    Interleaves 0-2 text spans and 0-3 media spans around one pdf span
    (FIXTURES.md synthesis recipe)."""
    rng = random.Random(doc_idx * 2654435761 % (2**31))
    spans: list[dict] = []

    def add(kind: str, text: str = "", media_ref: str = "") -> None:
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref,
             "offset": len(spans)}
        )

    for _ in range(rng.randint(0, 2)):
        add("text", "Preamble note %d for document %d." % (rng.randint(1, 99), doc_idx))
    for _ in range(rng.randint(0, 3)):
        add("media", media_ref=f"img://ext/{doc_idx}/{rng.randint(0, 999)}")

    payload = synth_pdf(doc_idx, n_pages=1 + doc_idx % 3)
    add("pdf", text=base64.b64encode(payload).decode("ascii"))

    for _ in range(rng.randint(0, 1)):
        add("text", "Trailing note for document %d." % doc_idx)
    return {"doc_id": f"doc{doc_idx:08d}", "spans": spans}


def corpus_dataframe(spark, n_docs: int, num_partitions: int | None = None):
    """Distributed deterministic corpus: spark.range → runtime.map_rows.

    Payload bytes are derived from doc_idx on the executors — nothing big
    crosses the driver."""
    from ..plans.pipeline import INPUT_SCHEMA
    from ..runtime import map_rows

    rng = spark.range(n_docs)
    if num_partitions:
        rng = rng.repartition(num_partitions)
    return map_rows(rng, INPUT_SCHEMA, lambda: (lambda i: [make_doc(i)]))


def read_pdf_dir(spark, path: str, pattern: str = "*.pdf"):
    """S1/S3 parity source: a directory of raw PDF files → the interleaved
    input table shape (doc_id, spans), one kind='pdf' span per file.

    The reference's single-file (-I) and batch (-B work-list) modes both
    reduce to this on Spark: ``binaryFile`` is a splittable file scan, so
    files parallelize across tasks with no driver-side listing loop, and
    the extraction pipeline downstream stays unchanged. doc_id is the
    file path (unique, stable across resumes).
    """
    from pyspark.sql import functions as F

    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )
    return bin_df.select(
        F.col("path").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("pdf").alias("kind"),
                F.base64(F.col("content")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
