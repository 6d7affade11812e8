"""Stdlib(+numpy) media decoders for the multimodal pipeline.

The sandbox (and a minimal cluster image) has no PIL/libav, but the
whole static web-image family needs none: full pixel decode with a
real 8×8 average-hash for BMP (uncompressed 8/24/32-bit), PNG (zlib
IDAT + all five scanline filters + Adam7 interlacing), JPEG (baseline
AND progressive — see ``jpegdec``), and GIF (first-frame LZW incl.
interlacing); WAV audio via the stdlib ``wave`` module. Everything
here validates strictly and returns ``None`` on any mismatch, so the
multimodal dispatcher falls back to the deterministic stub for
payloads these parsers don't cover.

Feature mapping into the fixed FEATURE_SCHEMA:
  * images: width/height = pixel dims; phash = 64-bit aHash over the
    decoded luma plane (cross-format consistent: the same image as
    BMP/PNG/JPEG/GIF hashes identically — tested), payload polyhash
    for header-only fallbacks.
  * audio (WAV): width = sample rate, height = channel count,
    phash = polyhash of the first 4 KB of frames (documented overload
    of the image-named columns — one schema serves all media kinds).
"""

from __future__ import annotations

import struct

from ..sources.pdfparse import png_unfilter_row
from .sqlkit import polyhash_bytes as _polyhash  # noqa: F401  (vectorized)


# -- PNG --------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def parse_png_header(b: bytes) -> tuple[int, int] | None:
    """IHDR width/height (always the first chunk, offset 16)."""
    if len(b) < 24 or not b.startswith(_PNG_MAGIC) or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", b[16:24])
    if not (0 < w < 1 << 24 and 0 < h < 1 << 24):
        return None
    return w, h


def parse_png_pixels(b: bytes):
    """(width, height, grayscale_rows | None): full pixel decode for the
    common non-interlaced 8/16-bit-depth PNGs — color types 0 (gray),
    2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA) — via stdlib zlib
    IDAT inflate + the five scanline filters (None/Sub/Up/Average/
    Paeth), including Adam7 interlacing (7 independently-filtered
    sub-images merged back onto the pixel grid).  Sub-byte-depth files
    return the dimensions with ``None`` pixels, same contract as
    ``parse_bmp``.  16-bit samples use the high byte (network order
    puts it first)."""
    import zlib

    hdr = parse_png_header(b)
    if hdr is None:
        return None
    w, h = hdr
    if len(b) < 29:  # IHDR data runs to byte 29; shorter → dims only
        return w, h, None
    bit_depth, color_type, _comp, _filt, interlace = b[24:29]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        return w, h, None
    if interlace not in (0, 1) or bit_depth not in (8, 16) or (
        color_type == 3 and bit_depth != 8
    ):
        return w, h, None
    if w * h > 1 << 24:  # 16 Mpx cap: pure-Python decode budget
        return w, h, None

    # chunk walk: collect IDAT (concatenated zlib stream) and PLTE
    idat = bytearray()
    plte = None
    pos = 8
    n = len(b)
    while pos + 8 <= n:
        (clen,) = struct.unpack(">I", b[pos: pos + 4])
        ctype = b[pos + 4: pos + 8]
        data_end = pos + 8 + clen
        if data_end + 4 > n:
            break
        if ctype == b"IDAT":
            idat += b[pos + 8: data_end]
        elif ctype == b"PLTE":
            plte = b[pos + 8: data_end]
        elif ctype == b"IEND":
            break
        pos = data_end + 4
    if not idat or (color_type == 3 and (not plte or len(plte) % 3)):
        return w, h, None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return w, h, None
    sample_bytes = bit_depth // 8
    bpp = channels * sample_bytes  # filter distance, per the spec

    # Adam7 passes as (x0, y0, xstep, ystep); non-interlaced = 1 pass
    passes = (
        [(0, 0, 1, 1)] if interlace == 0 else
        [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    )
    plan = []
    need = 0
    for x0, y0, xs, ys in passes:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw > 0 and ph > 0:
            plan.append((x0, y0, xs, ys, pw, ph))
            need += ph * (1 + pw * bpp)
    if len(raw) < need:
        return w, h, None

    def row_luma(cur: bytearray, pw: int) -> list[int]:
        if color_type == 3:  # palette index → RGB → luma
            out = []
            for x in range(pw):
                idx = cur[x] * 3
                if idx + 3 > len(plte):
                    raise ValueError("palette index out of range")
                rd, g, bl = plte[idx], plte[idx + 1], plte[idx + 2]
                out.append((rd * 299 + g * 587 + bl * 114) // 1000)
            return out
        if channels in (1, 2):  # gray / gray+alpha
            return [cur[x * bpp] for x in range(pw)]
        out = []
        for x in range(pw):  # RGB / RGBA
            o = x * bpp
            rd, g, bl = cur[o], cur[o + sample_bytes], \
                cur[o + 2 * sample_bytes]
            out.append((rd * 299 + g * 587 + bl * 114) // 1000)
        return out

    grid: list[list[int]] = [[0] * w for _ in range(h)]
    pos = 0
    try:
        for x0, y0, xs, ys, pw, ph in plan:
            stride = pw * bpp
            prev = bytearray(stride)
            for y in range(ph):
                ftype = raw[pos]
                cur = bytearray(raw[pos + 1: pos + 1 + stride])
                pos += 1 + stride
                if not png_unfilter_row(ftype, cur, prev, bpp):
                    return w, h, None
                prev = cur
                lum = row_luma(cur, pw)
                trow = grid[y0 + y * ys]
                for i, v in enumerate(lum):
                    trow[x0 + i * xs] = v
    except ValueError:
        return w, h, None
    return w, h, grid


# -- JPEG -------------------------------------------------------------------


def parse_jpeg_sof(b: bytes) -> tuple[int, int] | None:
    """Walk JPEG segments to the first SOFn and read its dimensions."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(b)
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            return None
        seg_len = struct.unpack(">H", b[i + 2: i + 4])[0]
        if seg_len < 2:
            return None
        # SOF0-SOF15 except DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None
            h, w = struct.unpack(">HH", b[i + 5: i + 9])
            if w == 0 or h == 0:
                return None
            return w, h
        i += 2 + seg_len
    return None


# -- GIF --------------------------------------------------------------------


def parse_gif_header(b: bytes) -> tuple[int, int] | None:
    if len(b) < 10 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", b[6:10])
    if w == 0 or h == 0:
        return None
    return w, h


def parse_gif_pixels(b: bytes):
    """(width, height, grayscale_rows | None): full first-frame decode
    for GIF87a/89a — LZW decompression (variable code width, clear/EOI
    codes, sub-block framing) + palette → luma, including Adam-less GIF
    4-pass interlacing.  Frames that don't cover the whole logical
    screen (animation deltas) return dims with ``None`` pixels."""
    hdr = parse_gif_header(b)
    if hdr is None:
        return None
    w, h = hdr
    if w * h > 1 << 24:
        return w, h, None
    try:
        flags = b[10]
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = b[pos: pos + 3 * n]
            pos += 3 * n
        # walk blocks to the first image descriptor
        while pos < len(b):
            block = b[pos]
            if block == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif block == 0x2C:
                break
            else:
                return w, h, None  # trailer or junk before any frame
        if pos >= len(b) or b[pos] != 0x2C:
            return w, h, None
        fx, fy, fw, fh = struct.unpack("<HHHH", b[pos + 1: pos + 9])
        iflags = b[pos + 9]
        pos += 10
        pal = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            pal = b[pos: pos + 3 * n]
            pos += 3 * n
        if pal is None or (fx, fy, fw, fh) != (0, 0, w, h):
            return w, h, None
        interlaced = bool(iflags & 0x40)

        min_code = b[pos]
        pos += 1
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            size = b[pos]
            data += b[pos + 1: pos + 1 + size]
            pos += 1 + size

        # LZW decode
        clear = 1 << min_code
        eoi = clear + 1
        code_size = min_code + 1
        dict_: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
        out = bytearray()
        prev = None
        acc = 0
        nbits = 0
        for byte in data:
            acc |= byte << nbits
            nbits += 8
            while nbits >= code_size:
                code = acc & ((1 << code_size) - 1)
                acc >>= code_size
                nbits -= code_size
                if code == clear:
                    dict_ = [bytes([i]) for i in range(clear)] + [b"", b""]
                    code_size = min_code + 1
                    prev = None
                    continue
                if code == eoi:
                    nbits = 0
                    break
                if prev is None:
                    entry = dict_[code]
                else:
                    if code < len(dict_):
                        entry = dict_[code]
                        dict_.append(prev + entry[:1])
                    else:  # the KwKwK case
                        entry = prev + prev[:1]
                        dict_.append(entry)
                    if (len(dict_) == (1 << code_size)
                            and code_size < 12):
                        code_size += 1
                out += entry
                prev = entry
            if len(out) >= w * h:
                break
        if len(out) < w * h:
            return w, h, None

        npal = len(pal) // 3
        luma = [
            (pal[3 * i] * 299 + pal[3 * i + 1] * 587
             + pal[3 * i + 2] * 114) // 1000 if i < npal else 0
            for i in range(256)
        ]
        flat = [luma[v] for v in out[: w * h]]
        if not interlaced:
            return w, h, [flat[r * w: (r + 1) * w] for r in range(h)]
        rows: list[list[int] | None] = [None] * h
        src = 0
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            for r in range(start, h, step):
                rows[r] = flat[src * w: (src + 1) * w]
                src += 1
        if any(r is None for r in rows):
            return w, h, None
        return w, h, rows
    except (IndexError, struct.error):
        return w, h, None


# -- BMP (real pixel decode for uncompressed 24/32-bit) ---------------------


def parse_bmp(b: bytes):
    """(width, height, grayscale_rows | None). Pixels decode only for
    BI_RGB 24/32-bit BITMAPINFOHEADER files; other BMP variants return
    dimensions with ``None`` pixels."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = struct.unpack("<I", b[10:14])[0]
    hdr_size = struct.unpack("<I", b[14:18])[0]
    if hdr_size < 40 or len(b) < 14 + hdr_size:
        return None
    w, h_raw = struct.unpack("<ii", b[18:26])
    planes, bpp = struct.unpack("<HH", b[26:30])
    compression = struct.unpack("<I", b[30:34])[0]
    h = abs(h_raw)
    if w <= 0 or h == 0 or planes != 1 or w > 1 << 16 or h > 1 << 16:
        return None
    if compression != 0 or bpp not in (8, 24, 32):
        return w, h, None
    palette = None
    if bpp == 8:  # indexed: BGRX color table follows the info header
        clr_used = struct.unpack("<I", b[46:50])[0] if hdr_size >= 36 else 0
        n_colors = clr_used or 256
        pal_off = 14 + hdr_size
        if len(b) < pal_off + 4 * n_colors:
            return w, h, None
        palette = b[pal_off: pal_off + 4 * n_colors]
    row_stride = ((w * bpp // 8) + 3) & ~3
    need = data_off + row_stride * h
    if data_off < 54 or len(b) < need:
        return w, h, None
    px_bytes = bpp // 8
    rows = []
    for r in range(h):
        # BMP rows are stored bottom-up unless height is negative
        src_r = (h - 1 - r) if h_raw > 0 else r
        off = data_off + src_r * row_stride
        row = []
        for c in range(w):
            if palette is not None:
                i4 = b[off + c] * 4
                if i4 + 3 > len(palette):
                    return w, h, None
                bl, g, rd = palette[i4], palette[i4 + 1], palette[i4 + 2]
            else:
                o = off + c * px_bytes
                bl, g, rd = b[o], b[o + 1], b[o + 2]
            row.append((rd * 299 + g * 587 + bl * 114) // 1000)
        rows.append(row)
    return w, h, rows


def ahash64(rows: list[list[int]]) -> int:
    """Classic 8×8 average hash over a grayscale image: downsample by
    block means, threshold at the global mean → 64-bit fingerprint."""
    h = len(rows)
    w = len(rows[0])
    cells = []
    for by in range(8):
        y0, y1 = by * h // 8, max(by * h // 8 + 1, (by + 1) * h // 8)
        for bx in range(8):
            x0, x1 = bx * w // 8, max(bx * w // 8 + 1, (bx + 1) * w // 8)
            tot = cnt = 0
            for y in range(y0, y1):
                row = rows[y]
                for x in range(x0, x1):
                    tot += row[x]
                    cnt += 1
            cells.append(tot / cnt)
    mean = sum(cells) / 64.0
    out = 0
    for i, v in enumerate(cells):
        if v > mean:
            out |= 1 << i
    # wrap into signed int64 (the schema's LongType; bit 63 is data)
    return out - (1 << 64) if out >= 1 << 63 else out


# -- WAV --------------------------------------------------------------------


def parse_wav(b: bytes):
    """(sample_rate, n_channels, n_frames) via stdlib ``wave``."""
    import io
    import wave

    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(b)) as wf:
            return wf.getframerate(), wf.getnchannels(), wf.getnframes()
    except Exception:
        return None


def wav_energy_hash(b: bytes) -> int | None:
    """64-bit energy-envelope fingerprint for 16-bit PCM WAV: mean
    |amplitude| over 64 equal time windows, thresholded at the global
    mean — the audio analogue of the image aHash (robust to volume-
    preserving container rewrites; returns ``None`` for non-16-bit or
    empty audio → caller keeps the payload polyhash)."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(b)) as wf:
            if wf.getsampwidth() != 2:
                return None
            n = min(wf.getnframes(), 1 << 20)  # bounded read
            frames = wf.readframes(n)
            channels = wf.getnchannels()
    except Exception:
        return None
    if len(frames) < 2:
        return None
    import struct as _s

    n_samp = len(frames) // 2
    vals = _s.unpack(f"<{n_samp}h", frames[: n_samp * 2])
    # mixdown to mono |amplitude|
    mono = [
        sum(abs(vals[i * channels + c]) for c in range(channels)) / channels
        for i in range(n_samp // channels)
    ]
    if not mono:
        return None
    nm = len(mono)
    cells = []
    for k in range(64):
        lo, hi = k * nm // 64, max(k * nm // 64 + 1, (k + 1) * nm // 64)
        seg = mono[lo:hi]
        cells.append(sum(seg) / len(seg))
    mean = sum(cells) / 64.0
    out = 0
    for i, v in enumerate(cells):
        if v > mean:
            out |= 1 << i
    return out - (1 << 64) if out >= 1 << 63 else out


# -- dispatcher -------------------------------------------------------------


def sniff_decode(payload: bytes) -> dict | None:
    """Real decode when the payload is a format stdlib can handle;
    ``None`` → caller falls back to the stub. Strict magic checks keep
    random synthetic payloads on the stub path."""
    if payload is None:
        return None
    bmp = parse_bmp(payload)
    if bmp is not None:
        w, h, rows = bmp
        return {
            "width": int(w), "height": int(h),
            "phash": ahash64(rows) if rows else _polyhash(payload[:4096]),
            "decoder": "bmp" if rows else "bmp-header",
        }
    png = parse_png_pixels(payload)
    if png is not None:
        w, h, rows = png
        return {
            "width": int(w), "height": int(h),
            "phash": ahash64(rows) if rows else _polyhash(payload[:4096]),
            "decoder": "png" if rows else "png-header",
        }
    if parse_jpeg_sof(payload) is not None:
        from .jpegdec import decode_jpeg_luma

        jp = decode_jpeg_luma(payload)
        if jp is not None:
            w, h, rows = jp
            return {
                "width": int(w), "height": int(h),
                "phash": ahash64(rows),
                "decoder": "jpeg",
            }
    gif = parse_gif_pixels(payload)
    if gif is not None:
        w, h, rows = gif
        return {
            "width": int(w), "height": int(h),
            "phash": ahash64(rows) if rows else _polyhash(payload[:4096]),
            "decoder": "gif" if rows else "gif-header",
        }
    dims = parse_jpeg_sof(payload)
    if dims is not None:
        return {
            "width": int(dims[0]), "height": int(dims[1]),
            "phash": _polyhash(payload[:4096]),
            "decoder": "jpeg-header",
        }
    wav = parse_wav(payload)
    if wav is not None:
        rate, channels, n_frames = wav
        eh = wav_energy_hash(payload)
        return {
            "width": int(rate), "height": int(channels),
            "phash": (eh if eh is not None
                      else _polyhash(payload[44:44 + 4096])),
            "decoder": "wav" if eh is not None else "wav-header",
        }
    return None
