"""Multimodal (image/audio/video) column plumbing for the training-data
pipeline.

Media payloads are opaque ``binary`` columns with typed metadata; decode /
feature-extraction runs through the package's one Python row map
(``runtime.map_rows``, a narrow ``mapInArrow``) — the same shape as the
PDF extractor (plans/pipeline.py), so the 100 TB properties carry over:
narrow map, fine-grained scan splits for oversized payloads. Per-batch
memory is not bounded in bytes: Spark cuts batches by record count
(``arrow.maxRecordsPerBatch``, which the package does not set) and a
batch's payloads come in whole as Python bytes.

Decoding is tiered. Formats stdlib can handle decode for REAL
(functions/mediacodec.py): BMP pixel decode with an 8×8 average-hash,
PNG/JPEG/GIF header dimensions, and WAV audio via ``wave``. Compressed
pixel formats (the PIL / libav tier, absent in this sandbox) fall back
to ``_decode_stub`` — a deterministic pseudo-decode, clearly marked.
The Spark-side plumbing (schema, batching, UDF signature, partitioning)
is identical for every tier; the stub is also expressible in SQL, which
gives the rare chance to oracle-check a Python UDF path end-to-end
against DuckDB (queries.py multimodal_features — synthetic payloads
carry no media magic, so they stay on the stub path by construction).
Nulls follow the SQL stub: a null ``media_ref`` or ``media_kind``
passes through as null, and so does every stub value derived from it
(``polyhash(NULL)`` is NULL); a null payload decodes as empty bytes.

Reference parity note: the reference DROPS images at the poppler level
(``-i`` flag, PDFToHtml.java:52 — issue #56); our engine instead carries
media as ordered spans (SURVEY.md §2.1 S4) and this module is where they
become features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.sqlkit import BASE, PRIME, polyhash_bytes
from ..runtime import map_rows, read_documents

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash", LongType()),
        StructField("decoder", StringType()),
    ]
)


def _decode_stub(payload: bytes, media_ref: str | None,
                 kind: str | None) -> dict:
    """STUB decoder — deterministic pseudo-decode (the package depends on
    no image/audio libs) for every payload the stdlib tier cannot decode;
    raising NotImplementedError here would be the honest production
    default, but the stub keeps the plumbing testable AND SQL-checkable.
    Dimensions of a null ref and the decoder of a null kind are null, as
    in the SQL replay."""
    if media_ref is None:
        width = height = None
    else:
        href = polyhash_bytes(media_ref.encode("ascii", "replace"))
        width = 64 + (href % 1856)
        height = 64 + ((href * BASE + 7) % PRIME) % 1016
    return {
        "n_bytes": len(payload),
        "width": width,
        "height": height,
        "phash": polyhash_bytes(payload),
        "decoder": None if kind is None else f"stub:{kind}",
    }


def _default_decode(payload: bytes | None, media_ref: str | None,
                    kind: str | None) -> dict:
    """One media row's features: REAL stdlib decode when the payload is
    a format that needs no external libs (BMP pixels + aHash; PNG/JPEG/GIF
    header dimensions; WAV via ``wave`` — functions/mediacodec.py),
    otherwise the deterministic stub. Strict magic sniffing keeps
    synthetic test payloads on the stub path, so the SQL oracle is
    unaffected. A null payload decodes as empty bytes."""
    from ..functions.mediacodec import sniff_decode

    payload = payload or b""
    real = sniff_decode(payload)
    if real is not None:
        return {"n_bytes": len(payload), **real}
    return _decode_stub(payload, media_ref, kind)


def _feature_rows(doc_id, ref, kind, payload) -> list[dict]:
    return [{"doc_id": doc_id, "media_ref": ref, "media_kind": kind,
             **_default_decode(payload, ref, kind)}]


def media_features(media: DataFrame) -> DataFrame:
    """(doc_id, media_ref, media_kind, payload:binary) → feature rows.

    Narrow Arrow-batched map — zero shuffle; heavy payloads rely on scan
    granularity exactly like the PDF lane (BENCH.md §4)."""
    return map_rows(
        media.select("doc_id", "media_ref", "media_kind", "payload"),
        FEATURE_SCHEMA, lambda: _feature_rows)


def media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Synthesize a media table from the documents table (deterministic):
    payload = utf-8 text bytes, ref derived from (source, doc_id). The
    scan is spread before the decode (``runtime.read_documents``)."""
    docs = read_documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("img://"), "source", F.lit("/"),
                 F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit("image").alias("media_kind"),
        F.encode("text", "utf-8").alias("payload"),
    )


def multimodal_features(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: stub-decode features over the synthesized
    media table. The Python UDF output is cross-checked against a pure
    SQL oracle (the stub is hash-arithmetic, so DuckDB can replay it)."""
    return media_features(media_from_documents(spark, sf_dir))


def multimodal_features_oracle() -> str:
    from ..functions import sqlkit as K
    from ..functions.sqlkit import DUCK

    href = K.polyhash("media_ref", DUCK)
    ph = K.polyhash("text", DUCK)
    return f"""
        with m as (
            select cast(doc_id as varchar) as doc_id,
                   concat('img://', source, '/', cast(doc_id as varchar))
                       as media_ref,
                   'image' as media_kind,
                   text,
                   cast(length(text) as bigint) as n_bytes
            from documents
        )
        select doc_id, media_ref, media_kind, n_bytes,
               cast(64 + ({href} % 1856) as int) as width,
               cast(64 + (({href} * {BASE} + 7) % {PRIME}) % 1016 as int)
                   as height,
               {ph} as phash,
               'stub:image' as decoder
        from m
    """


# ---------------------------------------------------------------------------
# resize (one-to-one) and frame sampling (one-to-many) plumbing
# ---------------------------------------------------------------------------

RESIZE_MAX_DIM = 512

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def _resize_rows(doc_id, ref, kind, payload) -> list[dict]:
    feat = _default_decode(payload, ref, kind)
    w, h = feat["width"], feat["height"]
    ow, oh = w, h
    if w is not None and h is not None and max(w, h) > RESIZE_MAX_DIM:
        # exact integer downscale (SQL-replayable — no float scale)
        m = max(w, h)
        ow = max(1, (w * RESIZE_MAX_DIM) // m)
        oh = max(1, (h * RESIZE_MAX_DIM) // m)
    # STUB: payload passes through; a pixel resampler would re-encode
    # the decoded image at (ow, oh) here
    return [{"doc_id": doc_id, "media_ref": ref, "width": w, "height": h,
             "out_width": ow, "out_height": oh, "payload": payload or b""}]


def image_resize(media: DataFrame) -> DataFrame:
    """Bounded-resolution resize plan: (payload, dims) → (payload, target
    dims), aspect-preserving, longest side ≤ ``RESIZE_MAX_DIM``. Same
    narrow Arrow-batched shape as media_features; the per-image pixel
    work is a deterministic stub here."""
    return map_rows(
        media.select("doc_id", "media_ref", "media_kind", "payload"),
        RESIZE_SCHEMA, lambda: _resize_rows)


FRAME_INTERVAL_MS = 5_000
FRAME_MAX = 8

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("timestamp_ms", LongType()),
        StructField("frame_ref", StringType()),
        StructField("frame_hash", LongType()),
    ]
)


def _avi_frame_rows(doc_id, ref, payload, info) -> list[dict]:
    """REAL frame sampling for an AVI payload: pick the stream chunk
    nearest each sample timestamp and hash its DECODED pixels — MJPEG
    frames ('..dc' chunks that are baseline JPEGs) run through the
    from-scratch decoder in functions/jpegdec.py and aHash; frames the
    decoder cannot take (non-JPEG codecs) fall back to a content hash
    of the raw chunk bytes, still real per-frame evidence."""
    from ..functions.jpegdec import decode_jpeg_luma
    from ..functions.mediacodec import ahash64

    frames = info["frames"]
    upf = info["us_per_frame"] or 33_333  # degenerate header: assume 30fps
    duration_ms = ((info["total_frames"] or len(frames)) * upf) // 1000
    n = int(min(FRAME_MAX, 1 + duration_ms // FRAME_INTERVAL_MS,
                len(frames)))
    rows = []
    for i in range(n):
        ts = i * FRAME_INTERVAL_MS
        fi = min((ts * 1000) // upf, len(frames) - 1)
        off, sz = frames[fi]
        raw = payload[off:off + sz]
        decoded = decode_jpeg_luma(raw) if raw[:2] == b"\xff\xd8" else None
        if decoded is not None:
            _, _, luma = decoded
            fh = ahash64(luma)
        else:
            fh = polyhash_bytes(raw)
        rows.append({
            "doc_id": doc_id, "media_ref": ref, "frame_idx": i,
            "timestamp_ms": ts,
            "frame_ref": None if ref is None else f"{ref}#f{int(fi)}",
            "frame_hash": fh,
        })
    return rows


def _frame_rows(doc_id, ref, payload) -> list[dict]:
    """One media row's sampled frames (fan-out)."""
    from ..functions.containerdec import container_duration_ms, parse_avi

    payload = payload or b""
    # REAL pixels for AVI payloads: the movi list gives frame byte ranges
    # and MJPEG frames decode via jpegdec (magic-gated — synthetic oracle
    # payloads have no RIFF magic)
    if payload[:4] == b"RIFF":
        info = parse_avi(payload)
        if info and info["frames"]:
            return _avi_frame_rows(doc_id, ref, payload, info)
    ph = polyhash_bytes(payload)
    # Real duration when the payload is an MP4/WebM whose header we can
    # walk (magic-gated); frame DECODE for those still needs libav, but
    # the sampling fan-out is driven by the true container duration.
    duration_ms = container_duration_ms(payload)
    if duration_ms is None:
        # STUB duration (deterministic, SQL-replayable)
        duration_ms = 1_000 + (ph % 59_000)
    return [{
        "doc_id": doc_id, "media_ref": ref, "frame_idx": i,
        "timestamp_ms": i * FRAME_INTERVAL_MS,
        "frame_ref": None if ref is None else f"{ref}#f{i}",
        "frame_hash": (ph * (i + 1) + i) % PRIME,
    } for i in range(min(FRAME_MAX, 1 + duration_ms // FRAME_INTERVAL_MS))]


def video_frame_sample(media: DataFrame) -> DataFrame:
    """Frame sampling: one input row → N frame rows (variable fan-out
    through ``runtime.map_rows`` — the batch shape real frame extraction
    needs; output row count is NOT the input row count, which Spark
    permits because ``mapInArrow`` yields arbitrary batches). Durations are
    REAL for MP4/MOV (``moov/mvhd``) and WebM/MKV (EBML ``Segment→Info``)
    payloads via the stdlib header walk in ``functions/containerdec.py``;
    non-container payloads fall back to a deterministic stub duration so
    the synthetic-payload fan-out stays SQL-replayable. One frame every
    ``FRAME_INTERVAL_MS``, at most ``FRAME_MAX`` per payload."""
    return map_rows(media.select("doc_id", "media_ref", "payload"),
                    FRAME_SCHEMA, lambda: _frame_rows)


def multimodal_resize(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: aspect-preserving integer resize dims over
    the synthesized media table (payload column dropped for the oracle
    hash — binary payloads are pass-through)."""
    return image_resize(media_from_documents(spark, sf_dir)).drop("payload")


def multimodal_resize_oracle() -> str:
    from ..functions import sqlkit as K
    from ..functions.sqlkit import DUCK

    href = K.polyhash("media_ref", DUCK)
    return f"""
        with m as (
            select cast(doc_id as varchar) as doc_id,
                   concat('img://', source, '/', cast(doc_id as varchar))
                       as media_ref
            from documents
        ), dims as (
            select doc_id, media_ref,
                   cast(64 + ({href} % 1856) as int) as width,
                   cast(64 + (({href} * {K.BASE} + 7) % {K.PRIME}) % 1016
                        as int) as height
            from m
        )
        select doc_id, media_ref, width, height,
               cast(case when greatest(width, height) > {RESIZE_MAX_DIM}
                    then greatest(1, (width * {RESIZE_MAX_DIM})
                                     // greatest(width, height))
                    else width end as int) as out_width,
               cast(case when greatest(width, height) > {RESIZE_MAX_DIM}
                    then greatest(1, (height * {RESIZE_MAX_DIM})
                                     // greatest(width, height))
                    else height end as int) as out_height
        from dims
    """


def multimodal_frames(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: deterministic frame fan-out (one-to-many
    Python UDF path cross-checked against a lateral generate_series)."""
    return video_frame_sample(media_from_documents(spark, sf_dir))


def multimodal_frames_oracle() -> str:
    from ..functions import sqlkit as K
    from ..functions.sqlkit import DUCK

    ph = K.polyhash("text", DUCK)
    return f"""
        with m as (
            select cast(doc_id as varchar) as doc_id,
                   concat('img://', source, '/', cast(doc_id as varchar))
                       as media_ref,
                   {ph} as ph
            from documents
        ), sized as (
            select doc_id, media_ref, ph,
                   least({FRAME_MAX},
                         1 + (1000 + (ph % 59000)) // {FRAME_INTERVAL_MS})
                       as n_frames
            from m
        )
        , exploded as (
            select doc_id, media_ref, ph,
                   unnest(range(0, n_frames)) as i
            from sized
        )
        select doc_id, media_ref,
               cast(i as int) as frame_idx,
               cast(i * {FRAME_INTERVAL_MS} as bigint) as timestamp_ms,
               concat(media_ref, '#f', cast(i as varchar)) as frame_ref,
               cast((ph * (i + 1) + i) % {K.PRIME} as bigint) as frame_hash
        from exploded
    """


# ---------------------------------------------------------------------------
# fingerprint near-dup: banded hamming join over media phash
# ---------------------------------------------------------------------------

PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_HAM_MAX = 3  # pigeonhole: ≤3 flipped bits over 4 bands ⇒ ≥1 band equal


def media_phash_neardup(spark, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by fingerprint hamming distance: the phash
    column (aHash64 for real decoders, stub polyhash for synthetic
    payloads — either way a deterministic 64-bit-space fingerprint)
    splits into 4×16-bit bands; candidates come from the shared banded
    candidate rule (:func:`dedup.band_join`: one row per pair;
    recall-complete for hamming ≤ 3 by pigeonhole, the simhash idiom),
    then the exact ``bit_count(xor)`` verify.

    This is what makes the decode tier (mediacodec/jpegdec) a DEDUP
    input at 100 TB: O(n·bands) candidate generation over billions of
    images, never an all-pairs pass."""
    from ..functions import sqlkit as K
    from ..functions.sqlkit import SPARK
    from ..runtime import track_cache
    from .dedup import band_join, explode_bands

    # tracked persist (runtime.track_cache): the phash frame feeds both
    # sides of the band self-join; harnesses release between queries so
    # repeated invocations in a long-lived session don't accumulate
    # cached blocks.  The band join has no shuffle of its own, so it
    # runs at the decode's width: the spread scan of media_from_documents.
    f = track_cache(media_features(media_from_documents(spark, sf_dir))
                    .select("media_ref", "phash"))
    # bitslice, not div/mod: real aHashes use bit 63, and a banded join
    # must extract true bit fields for negative values too
    bands = explode_bands(f, ["media_ref", "phash"], [
        F.expr(K.bitslice("phash", PHASH_BAND_BITS * bi,
                          (1 << PHASH_BAND_BITS) - 1, SPARK))
        for bi in range(PHASH_BANDS)
    ])
    ham = K.hamming("a.phash", "b.phash", SPARK)
    return (
        band_join(bands, bands, True, PHASH_BANDS, "media_ref")
        .select(
            F.col("a.media_ref").alias("media_ref_a"),
            F.col("b.media_ref").alias("media_ref_b"),
            F.expr(ham).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_HAM_MAX)
    )


def media_phash_neardup_oracle() -> str:
    from ..functions import sqlkit as K
    from ..functions.sqlkit import DUCK

    ph = K.polyhash("text", DUCK)
    band_rows = " union all ".join(
        f"select media_ref, phash, {bi} as band_idx,"
        f" {K.bitslice('phash', PHASH_BAND_BITS * bi, (1 << PHASH_BAND_BITS) - 1, DUCK)}"
        f" as band_key from f"
        for bi in range(PHASH_BANDS)
    )
    ham = K.hamming("a_phash", "b_phash", DUCK)
    return f"""
        with f as (
            select concat('img://', source, '/', cast(doc_id as varchar))
                       as media_ref,
                   {ph} as phash
            from documents
        ),
        bands as ({band_rows}),
        cand as (
            select distinct a.media_ref as media_ref_a,
                   b.media_ref as media_ref_b,
                   a.phash as a_phash, b.phash as b_phash
            from bands a join bands b
              on a.band_idx = b.band_idx and a.band_key = b.band_key
             and a.media_ref < b.media_ref
        )
        select media_ref_a, media_ref_b,
               cast({ham} as int) as hamming
        from cand
        where {ham} <= {PHASH_HAM_MAX}
    """
