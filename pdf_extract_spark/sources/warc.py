"""WARC source: web-archive files → the interleaved document table.

Web-scale PDF corpora arrive as WARC (ISO 28500 — Common Crawl's
format): one file holds many records, each an HTTP response with its
headers and payload. ``read_warc`` turns a directory of ``.warc`` /
``.warc.gz`` files into the pipeline's input shape
``(doc_id, spans)`` with one ``kind='pdf'`` span per matching response
— the same table every downstream stage already consumes.

Plan shape: ``binaryFile`` scan → one ``runtime.map_rows`` parse (a
narrow ``mapInArrow``, one file in, its documents out) — the identical
narrow-map pattern as extraction itself, so WARC ingest
inherits the pipeline's scale properties (file-granular parallelism, no
shuffle). Parsing is stdlib-only: ``.warc.gz`` files are concatenated
per-record gzip members, which ``gzip`` decompresses transparently.
Records are matched on Content-Type (HTTP header or
WARC-Identified-Payload-Type); non-matching records are skipped, and a
record's HTTP header block is stripped to the raw payload.

Note on memory: each task holds one WARC file decompressed (~1 GB for
Common Crawl segments) — bounded per-task, and files parallelize across
the cluster. A production deployment shards pathological multi-GB
archives upstream; the parser itself is single-pass.
"""

from __future__ import annotations

import base64
import re

from pyspark.sql import DataFrame, SparkSession

from ..runtime import map_rows

# no ^ anchor: pattern.match(data, pos) is already position-anchored,
# and ^ would only ever match at offset 0
_WARC_VERSION_RE = re.compile(rb"WARC/\d+\.\d+\r?\n")
_CRLF2 = b"\r\n\r\n"


def _parse_headers(block: bytes) -> dict[str, str]:
    out: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            out[k.strip().decode("latin-1").lower()] = (
                v.strip().decode("latin-1")
            )
    return out


#: chunk-size bounds for feeding the decompressor: start small (a
#: Common Crawl member is a few KB compressed), grow geometrically
#: inside a member, seed the next member from the last member's size —
#: overshoot past a member boundary stays O(that member's size)
_GZ_CHUNK_MIN = 1 << 12
_GZ_CHUNK_MAX = 1 << 22


def _iter_gzip_members(data: bytes):
    """Decompress concatenated gzip members ONE AT A TIME (the Common
    Crawl layout is one member per record): peak memory is the largest
    single member, not the whole decompressed archive (~4 GB for a 1 GB
    segment).

    Linear total work: the decompressor is fed bounded chunks sliced
    from a single ``memoryview`` (zero-copy slicing), and the member
    boundary is recovered from ``d.unused_data``.  Chunks start at
    ``_GZ_CHUNK_MIN`` (seeded from the previous member's compressed
    size) and double while a member is unfinished, so both the bytes
    fed and the ``unused_data`` copied back per member are O(member
    size) — each archive byte is copied O(1) times overall.  The
    previous ``d.decompress(data[pos:])`` form copied the whole
    remaining buffer per member: quadratic on Common Crawl segments
    (~10^5 members/file).
    """
    import zlib

    view = memoryview(data)
    pos = 0
    n = len(data)
    chunk0 = _GZ_CHUNK_MIN
    while pos < n and data[pos: pos + 2] == b"\x1f\x8b":
        member_start = pos
        chunk = chunk0
        d = zlib.decompressobj(wbits=31)
        out: list[bytes] = []
        try:
            while not d.eof and pos < n:
                fed = view[pos: pos + chunk]
                piece = d.decompress(fed)
                pos += len(fed)
                chunk = min(chunk * 2, _GZ_CHUNK_MAX)
                if piece:
                    out.append(piece)
        except zlib.error:
            # corrupt member — salvage what decompressed, stop the walk
            if out:
                yield b"".join(out)
            return
        if not d.eof:
            # truncated final member — salvage what decompressed
            if out:
                yield b"".join(out)
            return
        # unused_data holds the post-member tail of the LAST fed chunk
        # (bounded by that chunk's size): rewind to the exact boundary
        pos -= len(d.unused_data)
        yield b"".join(out)
        if pos <= member_start:
            return
        chunk0 = max(_GZ_CHUNK_MIN,
                     min(2 * (pos - member_start), _GZ_CHUNK_MAX))


def iter_warc_records(data: bytes):
    """Yield (warc_headers, payload_bytes) per record of one WARC file
    (plain, or multi-member gzip streamed member-by-member)."""
    if data[:2] == b"\x1f\x8b":
        for member in _iter_gzip_members(data):
            yield from _iter_plain_records(member)
        return
    yield from _iter_plain_records(data)


def _iter_plain_records(data: bytes):
    pos = 0
    n = len(data)
    while pos < n:
        m = _WARC_VERSION_RE.match(data, pos)
        if not m:
            nxt = data.find(b"WARC/", pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            return
        headers = _parse_headers(data[m.end(): hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        body_start = hdr_end + 4
        body = data[body_start: body_start + length]
        yield headers, body
        pos = body_start + length
        # records are terminated by two CRLFs
        while data[pos: pos + 2] == b"\r\n":
            pos += 2


def _http_payload(body: bytes) -> tuple[dict[str, str], bytes]:
    """Split an HTTP response record body into (http_headers, payload)."""
    if not body.startswith(b"HTTP/"):
        return {}, body
    sep = body.find(_CRLF2)
    if sep < 0:
        return {}, body
    return _parse_headers(body[:sep]), body[sep + 4:]


#: mime prefix → span kind; pdf payloads ride base64 in ``text``, html
#: payloads ride decoded markup (the pipeline's html tier strips
#: boilerplate via DOM heuristics, functions/htmlextract.py)
DEFAULT_MIME_KINDS: dict[str, str] = {
    "application/pdf": "pdf",
    "text/html": "html",
    "application/xhtml": "html",
}


def warc_docs(data: bytes, source_name: str) -> list[dict]:
    """All matching-response documents of one WARC file (pdf and html by
    ``DEFAULT_MIME_KINDS``)."""
    docs: list[dict] = []
    for i, (headers, body) in enumerate(iter_warc_records(data)):
        if headers.get("warc-type", "") not in ("response", "resource"):
            continue
        http, payload = (
            _http_payload(body)
            if headers.get("warc-type") == "response" else ({}, body)
        )
        content_type = (
            http.get("content-type")
            or headers.get("warc-identified-payload-type")
            or headers.get("content-type", "")
        )
        mime = content_type.split(";")[0].strip().lower()
        kind = next(
            (k for p, k in DEFAULT_MIME_KINDS.items() if mime.startswith(p)),
            None,
        )
        if kind is None:
            continue
        if kind == "pdf":
            text = base64.b64encode(payload).decode("ascii")
        else:
            cs = "utf-8"
            m = re.search(r"charset=([\w.-]+)", content_type, re.I)
            if m:
                cs = m.group(1)
            try:
                text = payload.decode(cs, errors="replace")
            except LookupError:
                text = payload.decode("utf-8", errors="replace")
        doc_id = (
            headers.get("warc-record-id")
            or headers.get("warc-target-uri")
            or f"{source_name}#{i}"
        ).strip("<>")
        docs.append(
            {
                "doc_id": doc_id,
                "spans": [
                    {
                        "kind": kind,
                        "text": text,
                        "media_ref": headers.get("warc-target-uri", ""),
                        "offset": 0,
                    }
                ],
            }
        )
    return docs


def read_warc(spark: SparkSession, path: str,
              pattern: str = "*.warc*") -> DataFrame:
    """Directory of WARC files → interleaved (doc_id, spans) table with
    one span per matching HTTP response record (pdf and html — see
    DEFAULT_MIME_KINDS)."""
    from ..plans.pipeline import INPUT_SCHEMA

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
        # in warc_docs' argument order: (data, source_name)
        .select("content", "path")
    )
    return map_rows(files, INPUT_SCHEMA, lambda: warc_docs)
