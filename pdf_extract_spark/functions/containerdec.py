"""Container-media header parsing (MP4 / ISO-BMFF and WebM / Matroska).

The reference pipeline treats video as an opaque media span and leaves
frame extraction to a downstream tool; our ``video_frame_sample``
operator needs the container DURATION to decide how many frames to
sample. Full frame decode needs libav, which the package does not
depend on, but the duration lives in a few header bytes that a
pure-stdlib walk can read — exactly like the image tier's PNG/JPEG/GIF
header parsers in ``mediacodec.py``:

* **MP4 / MOV / ISO-BMFF** — a tree of length-prefixed boxes; the
  movie header box ``moov/mvhd`` carries ``timescale`` (ticks per
  second) and ``duration`` (ticks).  Version 0 stores them as 32-bit,
  version 1 as 64-bit fields (ISO/IEC 14496-12 §8.2.2).
* **WebM / MKV (EBML)** — variable-length-integer tagged elements; the
  ``Segment → Info`` element carries ``TimestampScale`` (ns per tick,
  default 1,000,000) and ``Duration`` (an IEEE float, in ticks)
  (Matroska spec / RFC 8794 EBML).

Both parsers are bounded: they only walk the header region (``moov`` is
typically at the front for faststart files; EBML ``Info`` sits right
after the Segment header), never the media data, and they give up
cleanly (``None``) on anything malformed — the caller falls back to the
deterministic stub so the SQL oracle path is unaffected (synthetic
payloads carry neither magic).
"""

from __future__ import annotations

import struct

__all__ = [
    "is_mp4",
    "is_ebml",
    "parse_mp4_duration_ms",
    "parse_webm_duration_ms",
    "container_duration_ms",
]

# How many header bytes the walkers will inspect before giving up; a
# non-faststart MP4 keeps ``moov`` after ``mdat`` — the walker SKIPS
# over mdat via its length prefix (no scan of payload bytes), so the
# bound is on bytes *touched*, not file size.
_MAX_BOXES = 64  # max sibling boxes walked per nesting level
_MAX_DEPTH = 6


def is_mp4(b: bytes) -> bool:
    """ISO-BMFF magic: a leading box whose type is ``ftyp`` (every
    MP4/MOV/M4A starts with it per ISO 14496-12 §4.3)."""
    return len(b) >= 12 and b[4:8] == b"ftyp"


def is_ebml(b: bytes) -> bool:
    """EBML magic 0x1A45DFA3 (WebM / Matroska / any EBML document)."""
    return b[:4] == b"\x1aE\xdf\xa3"


# -- MP4 / ISO-BMFF ---------------------------------------------------------


def _iter_boxes(b: bytes, start: int, end: int):
    """Yield ``(box_type, body_start, body_end)`` for sibling boxes in
    ``b[start:end]``.  Handles 64-bit largesize (size == 1) and
    to-end-of-file boxes (size == 0)."""
    pos = start
    for _ in range(_MAX_BOXES):
        if pos + 8 > end:
            return
        size = struct.unpack_from(">I", b, pos)[0]
        btype = b[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            size = struct.unpack_from(">Q", b, pos + 8)[0]
            body = pos + 16
        elif size == 0:
            size = end - pos  # box extends to end of enclosing scope
        if size < body - pos:  # corrupt: size smaller than its header
            return
        box_end = pos + size
        if box_end > end:
            # Truncated buffer: expose what we have for container boxes
            # (moov children may still be readable) but stop after.
            yield btype, body, end
            return
        yield btype, body, box_end
        pos = box_end


def _find_box(b: bytes, start: int, end: int, path: tuple, depth: int = 0):
    """Depth-first search for the box at ``path`` (e.g. (b"moov",
    b"mvhd")); returns (body_start, body_end) or None."""
    if depth >= _MAX_DEPTH or not path:
        return None
    for btype, bs, be in _iter_boxes(b, start, end):
        if btype != path[0]:
            continue
        if len(path) == 1:
            return bs, be
        found = _find_box(b, bs, be, path[1:], depth + 1)
        if found is not None:
            return found
    return None


def parse_mp4_duration_ms(b: bytes) -> int | None:
    """Movie duration in milliseconds from ``moov/mvhd``, or ``None``
    when the payload is not a parseable ISO-BMFF file."""
    if not is_mp4(b):
        return None
    span = _find_box(b, 0, len(b), (b"moov", b"mvhd"))
    if span is None:
        return None
    bs, be = span
    if be - bs < 4:
        return None
    version = b[bs]
    # bound every field read by the BOX end, not just the buffer:
    # a corrupt mvhd size would otherwise let unpack_from read the
    # next box's bytes as timescale/duration and return garbage
    # instead of the documented None-on-malformed
    need = 32 if version == 1 else 20
    if be - bs < need:
        return None
    try:
        if version == 1:
            # 4 version/flags + 8 ctime + 8 mtime, then u32 timescale,
            # u64 duration (ISO 14496-12 §8.2.2.2)
            timescale = struct.unpack_from(">I", b, bs + 20)[0]
            duration = struct.unpack_from(">Q", b, bs + 24)[0]
        else:
            # 4 version/flags + 4 ctime + 4 mtime, u32 timescale, u32
            # duration
            timescale = struct.unpack_from(">I", b, bs + 12)[0]
            duration = struct.unpack_from(">I", b, bs + 16)[0]
    except struct.error:
        return None
    if timescale == 0:
        return None
    if duration in (0xFFFFFFFF, 0xFFFFFFFFFFFFFFFF):
        return None  # "unknown duration" sentinel
    return duration * 1000 // timescale


# -- WebM / Matroska (EBML) -------------------------------------------------

_EBML_HEADER = 0x1A45DFA3
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489


def _read_vint(b: bytes, pos: int, keep_marker: bool):
    """EBML variable-length integer at ``b[pos:]`` → (value, next_pos)
    or None.  Element IDs keep the length-marker bit (the spec compares
    IDs with it); sizes strip it."""
    if pos >= len(b):
        return None
    first = b[pos]
    if first == 0:
        return None
    length = 8 - first.bit_length() + 1  # leading zeros + 1
    if pos + length > len(b):
        return None
    val = first if keep_marker else first & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | b[pos + i]
    if not keep_marker:
        # all-ones payload = "unknown size"
        if val == (1 << (7 * length)) - 1:
            return -1, pos + length
    return val, pos + length


def _iter_ebml(b: bytes, start: int, end: int):
    """Yield ``(element_id, body_start, body_end)`` for EBML elements
    in ``b[start:end]``; unknown-size elements extend to ``end``."""
    pos = start
    for _ in range(_MAX_BOXES):
        if pos >= end:
            return
        rid = _read_vint(b, pos, keep_marker=True)
        if rid is None:
            return
        eid, pos = rid
        rsz = _read_vint(b, pos, keep_marker=False)
        if rsz is None:
            return
        size, pos = rsz
        body_end = end if size < 0 else min(end, pos + size)
        yield eid, pos, body_end
        pos = body_end


def parse_webm_duration_ms(b: bytes) -> int | None:
    """Segment duration in milliseconds from ``Segment → Info``
    (``Duration`` × ``TimestampScale``), or ``None``."""
    if not is_ebml(b):
        return None
    for eid, bs, be in _iter_ebml(b, 0, len(b)):
        if eid != _SEGMENT:
            continue
        for eid2, bs2, be2 in _iter_ebml(b, bs, be):
            if eid2 != _INFO:
                continue
            scale_ns = 1_000_000  # Matroska default: 1 ms ticks
            duration_ticks = None
            for eid3, bs3, be3 in _iter_ebml(b, bs2, be2):
                if eid3 == _TIMESTAMP_SCALE:
                    scale_ns = int.from_bytes(b[bs3:be3], "big")
                elif eid3 == _DURATION:
                    n = be3 - bs3
                    if n == 4:
                        duration_ticks = struct.unpack_from(">f", b, bs3)[0]
                    elif n == 8:
                        duration_ticks = struct.unpack_from(">d", b, bs3)[0]
            if duration_ticks is None or duration_ticks < 0 or scale_ns <= 0:
                return None
            return int(duration_ticks * scale_ns / 1_000_000)
    return None


# ---------------------------------------------------------------------------
# RIFF / AVI (Microsoft AVI 1.0 chunk layout — public format spec).
# Unlike MP4/WebM (duration-only header walks), AVI's 'movi' list gives
# direct byte ranges for every frame chunk, and MJPEG frames are plain
# baseline JPEGs — so this is the one container the sandbox can decode
# to REAL PIXELS end-to-end (functions/jpegdec.py).
# ---------------------------------------------------------------------------

_AVI_MAX_CHUNKS = 100_000


def is_riff_avi(b: bytes) -> bool:
    return len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI "


def _u32(b: bytes, pos: int) -> int:
    return int.from_bytes(b[pos:pos + 4], "little")


def parse_avi(b: bytes) -> dict | None:
    """Bounded linear walk of an AVI: returns ``{us_per_frame,
    total_frames, width, height, frames}`` where ``frames`` is the list
    of (offset, size) byte ranges of the video stream chunks
    ('..dc'/'..db') inside the 'movi' list, in file order.  ``None``
    when the RIFF structure is absent or truncated."""
    if not is_riff_avi(b):
        return None
    info = {"us_per_frame": 0, "total_frames": 0,
            "width": 0, "height": 0, "frames": []}
    limit = min(len(b), 8 + _u32(b, 4))
    budget = [_AVI_MAX_CHUNKS]

    def walk(pos: int, end: int, depth: int) -> None:
        while pos + 8 <= end and budget[0] > 0:
            budget[0] -= 1
            cc = b[pos:pos + 4]
            sz = _u32(b, pos + 4)
            data_end = pos + 8 + sz
            if data_end > end:
                return  # truncated chunk: keep what we have
            if cc == b"LIST" and depth < 8:
                walk(pos + 12, data_end, depth + 1)
            elif cc == b"avih" and sz >= 40:
                info["us_per_frame"] = _u32(b, pos + 8)
                info["total_frames"] = _u32(b, pos + 8 + 16)
                info["width"] = _u32(b, pos + 8 + 32)
                info["height"] = _u32(b, pos + 8 + 36)
            elif len(cc) == 4 and cc[2:4] in (b"dc", b"db") \
                    and cc[:2].isdigit():
                info["frames"].append((pos + 8, sz))
            pos = data_end + (sz & 1)  # chunks pad to even

    walk(12, limit, 0)
    if not info["frames"] and not info["us_per_frame"]:
        return None
    return info


def avi_duration_ms(b: bytes) -> int | None:
    info = parse_avi(b)
    if info is None:
        return None
    n = info["total_frames"] or len(info["frames"])
    if n and info["us_per_frame"]:
        return (n * info["us_per_frame"]) // 1000
    return None


def container_duration_ms(b: bytes) -> int | None:
    """Sniff-and-parse: real container duration when the payload is an
    MP4/MOV, WebM/MKV, or AVI header we can read, else ``None`` (caller
    keeps the deterministic stub, so synthetic-payload oracles are
    unaffected)."""
    if b is None or len(b) < 12:
        return None
    if is_mp4(b):
        return parse_mp4_duration_ms(b)
    if is_ebml(b):
        return parse_webm_duration_ms(b)
    if is_riff_avi(b):
        return avi_duration_ms(b)
    return None
