"""Vectorized shingle/MinHash/SimHash signature kernel (Arrow + numpy).

The dedup tier's hashing — w-token shingling, polynomial shingle hashes,
min-wise signatures, simhash fingerprints — was originally expressed as
Catalyst higher-order-function lambdas (functions/sqlkit.py fragments).
Those fragments remain the cross-engine ORACLE definition (DuckDB replays
them bit-for-bit), but Spark does NOT whole-stage-codegen HOF lambdas: the
per-character fold runs on the interpreted expression path, costing
~50-70 KB/s/core (r4 VERDICT, measured) — unusable at 100 TB where the
hashing kernel IS the dedup pipeline.

This module is the execution path: one ``mapInArrow`` over the corpus
signs each Arrow RecordBatch in byte-bounded slices of whole documents,
with no per-document Python and no pandas —

  * tokens: the slice's UTF-8 string buffer is decoded to UTF-32 once
    (``ascii``/``substring`` in both engines are codepoint-based —
    probed, including astral planes); a token is a maximal run of
    codepoints other than U+0020 inside one document, found with numpy
    masks (document starts are boundaries too, so no token spans two
    documents);
  * token hashes: a segment-wise Horner dot product against a
    precomputed power table (`np.add.reduceat` over per-char terms);
  * shingle hashes: composed from the token hashes, never building a
    shingle string — ``H(x␠y) = H(x)·31^(|y|+1) + 32·31^|y| + H(y)``
    (mod PRIME), w-1 vectorized steps per slice;
  * per-doc first-occurrence distinct: one ``np.unique`` on the
    (doc, hash) key, first indices re-sorted;
  * min-wise hashes: 8 affine maps + ``np.minimum.reduceat`` per doc;
  * simhash: per-bit ±1 votes via one (n_hashes, 32) bit matrix +
    ``np.add.reduceat``.

``sh`` leaves as a ``pa.ListArray`` built from the offsets + values
those steps produce.

Bit-identity with the DuckDB fragments is pinned by
tests/test_sigkernel.py on the real corpus plus adversarial synthetic
docs (unicode, hash-colliding shingles, short docs; ``sh``
element-for-element) and per multi-document batch by
tests/test_properties.py; the DuckDB oracles in operators/dedup.py
therefore keep checking this path end-to-end.

Scale shape: the kernel is a NARROW Arrow map over the scan — no
shuffle, no driver involvement. Measured on one core of a shared 4-core
VM (perfbench ``neardup`` traced replay: 50k docs of ~300 bytes, 10k-doc
batches, Python-list conversion in and out included): ~23-25 ms per
1,000 docs, ~12 MB/s of text, against 95-111 ms (~3 MB/s) for the
per-document Python form it replaced and KB/s for the HOF form.
Downstream (banding, candidate equi-joins, jaccard verify) stays pure
Catalyst.

Memory: Spark cuts Arrow batches by record count (10,000 by default;
the package sets no ``arrow.maxRecordsPerBatch``), not by bytes, and
one vectorized pass holds ~45x its text in numpy temporaries (~70x
with simhash). ``sign_batch`` therefore signs each batch in zero-copy
slices of at most ``SLICE_BYTES`` (256 KiB) of UTF-8 text — a larger
document is a slice of its own — and concatenates the small per-slice
outputs, so a batch still yields one output batch. Traced with
tracemalloc, a full slice of ~4 KB docs peaks at 12 MB (16 MB with
simhash), and one 10,000-doc, 3 MB ``neardup`` batch at 16 MB (23 MB)
where signing it whole peaked at 134 MB (219 MB).

The reference engine has no dedup surface (SURVEY.md §2.9); this module
is part of the training-data-pipeline extension from the build brief.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import sqlkit as K

N_MINHASH = len(K.MINHASH_PARAMS)

#: UTF-8 text bytes one vectorized pass signs at once (see "Memory" above)
SLICE_BYTES = 256 * 1024

#: segment length from which :func:`segment_polyhash` reduces every
#: per-character term before summing (below it, raw sums fit in int64)
LAZY_MOD_CHARS = 1 << 12

#: power table BASE^k mod PRIME, ascending; grown on demand (a token
#: longer than the table grows it once)
_POWS: np.ndarray | None = None


def _pow_table(n: int) -> np.ndarray:
    global _POWS
    if _POWS is None or len(_POWS) < n:
        size = max(n, 4096)
        t = np.empty(size, dtype=np.int64)
        t[0] = 1
        for k in range(1, size):
            t[k] = (t[k - 1] * K.BASE) % K.PRIME
        _POWS = t
    return _POWS


def segment_polyhash(codes: np.ndarray, starts: np.ndarray,
                     lens: np.ndarray) -> np.ndarray:
    """Polynomial hash of each segment ``codes[starts[k]:starts[k] +
    lens[k]]`` — the numpy twin of the ``sqlkit.polyhash`` SQL fragment
    (fold ``acc*31 + codepoint`` mod PRIME): per-char term = code *
    (BASE^(L-1-i) mod PRIME), one ``reduceat`` over the segments.
    Segments are non-empty, ascending and non-overlapping; characters
    between segments are skipped.

    Overflow-safe in int64: code < 2^21, power < 2^30 → term < 2^51,
    so a sum of fewer than 2^12 raw terms stays below 2^63 and is
    reduced once, after the ``reduceat``.  When any segment reaches
    ``LAZY_MOD_CHARS`` the terms are reduced mod PRIME (< 2^30) first,
    so a sum of L terms needs L < 2^33 chars — far past any token."""
    if len(starts) == 0:
        return np.empty(0, dtype=np.int64)
    # gather the segments' chars contiguously: position of each char,
    # and its exponent (distance to its segment's last char)
    seg_off = np.cumsum(lens) - lens
    total = int(lens.sum())
    rel = np.arange(total, dtype=np.int64) - np.repeat(seg_off, lens)
    pos = np.repeat(starts, lens) + rel
    exp = np.repeat(lens - 1, lens) - rel
    longest = int(lens.max())
    terms = codes[pos] * _pow_table(longest)[exp]
    if longest >= LAZY_MOD_CHARS:
        terms %= K.PRIME
    return np.add.reduceat(terms, seg_off) % K.PRIME


def _byte_offsets(text: pa.Array) -> np.ndarray:
    """The n+1 UTF-8 byte offsets of a string / large_string array,
    sliced or not, read off its own offsets buffer."""
    off_dtype = np.int64 if pa.types.is_large_string(text.type) else np.int32
    return np.frombuffer(text.buffers()[1], dtype=off_dtype)[
        text.offset:text.offset + len(text) + 1].astype(np.int64)


def _utf32(text: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(codepoints of the whole array as uint32, per-doc codepoint
    offsets of length n+1) for a string / large_string array, sliced or
    not — one decode of the array's data buffer."""
    off = _byte_offsets(text)
    lo, hi = int(off[0]), int(off[-1])
    buf = text.buffers()[2]
    data = (np.frombuffer(buf, dtype=np.uint8)[lo:hi]
            if buf is not None and hi > lo
            else np.empty(0, dtype=np.uint8))
    codes = np.frombuffer(
        data.tobytes().decode("utf-8").encode("utf-32-le"), dtype=np.uint32)
    # codepoint index of a byte offset = lead bytes before it
    lead = np.concatenate(([0], np.cumsum((data & 0xC0) != 0x80)))
    return codes, lead[off - lo]


def sign_batch(text: pa.Array, w: int,
               want_minhash: bool, want_simhash: bool,
               distinct: bool = True, pad_short: bool = True) -> dict:
    """Signatures of one Arrow string array of documents, with no
    per-document Python.

    Returns numpy arrays over the n documents: ``valid`` (non-null
    text), ``offsets`` (n+1, into ``values``: each doc's shingle
    hashes), ``values``, ``n_sh``, and — when asked — ``minhash`` (a
    list of N_MINHASH length-n arrays) and ``simhash`` (length n);
    entries of null docs are 0 and must be masked by ``valid``.

    Shingles follow ``sqlkit.token_shingles(tokens(text))``: split on
    U+0020, empties dropped, windows of w tokens. ``distinct`` keeps
    first occurrences of each hash VALUE per doc (the set-semantics
    default every dedup consumer uses — distinct shingles may collide);
    ``distinct=False`` keeps every window in positional order (the
    exact-substring marking path). ``pad_short`` controls docs shorter
    than w tokens: the full join as the single shingle (set semantics;
    an empty doc is the single shingle ``''``, hash 0) vs no windows at
    all (positional semantics — a doc without a full w-gram has
    nothing to mark). Min-wise values are unaffected by duplicates,
    but simhash votes are set-semantics, so both require the defaults.

    The array is signed in slices of whole documents holding at most
    ``SLICE_BYTES`` of text each; the result does not depend on where
    the cuts fall.
    """
    if want_minhash or want_simhash:
        assert distinct and pad_short, \
            "minhash/simhash require distinct set semantics"
    # cut the array into runs of whole documents holding <= SLICE_BYTES
    # of UTF-8 text each (a larger document is a run of its own)
    off = _byte_offsets(text)
    cuts = [0]
    while cuts[-1] < len(text):
        a = cuts[-1]
        b = int(np.searchsorted(off, off[a] + SLICE_BYTES, side="right")) - 1
        cuts.append(max(b, a + 1))
    if len(cuts) <= 2:
        return _sign_slice(text, w, want_minhash, want_simhash,
                           distinct, pad_short)
    parts = [_sign_slice(text.slice(a, b - a), w, want_minhash,
                         want_simhash, distinct, pad_short)
             for a, b in zip(cuts, cuts[1:])]
    out = {k: np.concatenate([p[k] for p in parts])
           for k in ("valid", "values", "n_sh")}
    out["offsets"] = np.concatenate(([0], np.cumsum(out["n_sh"])))
    if want_minhash:
        out["minhash"] = [np.concatenate([p["minhash"][j] for p in parts])
                          for j in range(N_MINHASH)]
    if want_simhash:
        out["simhash"] = np.concatenate([p["simhash"] for p in parts])
    return out


def _sign_slice(text: pa.Array, w: int,
                want_minhash: bool, want_simhash: bool,
                distinct: bool, pad_short: bool) -> dict:
    """:func:`sign_batch` over one slice, all its documents at once."""
    n = len(text)
    valid = ~np.asarray(text.is_null(), dtype=bool)
    codes, doc_off = _utf32(text)
    m = len(codes)

    # tokens: maximal non-space runs, cut at every document start
    word = codes != 32
    first = np.ones(m, dtype=bool)
    first[1:] = ~word[:-1]
    last = np.ones(m, dtype=bool)
    last[:-1] = ~word[1:]
    cuts = doc_off[(doc_off > 0) & (doc_off < m)]
    first[cuts] = True
    last[cuts - 1] = True
    tok_start = np.flatnonzero(word & first)
    tok_len = np.flatnonzero(word & last) + 1 - tok_start
    tok_hash = segment_polyhash(codes, tok_start, tok_len)
    tok_off = np.searchsorted(tok_start, doc_off)
    n_tok = np.diff(tok_off)

    # windows: n-w+1 per doc, or the short doc's single padded window
    n_win = np.maximum(n_tok - (w - 1), 0)
    if pad_short:
        n_win = np.maximum(n_win, 1)
    n_win[~valid] = 0
    win_doc = np.repeat(np.arange(n), n_win)
    win_off = np.cumsum(n_win) - n_win
    win_start = tok_off[win_doc] + (
        np.arange(len(win_doc)) - win_off[win_doc])
    win_len = np.minimum(n_tok, w)[win_doc]

    # compose each window's hash from its token hashes, left to right
    # (an empty doc's padded window is the empty string, hash 0)
    hashes = np.zeros(len(win_doc), dtype=np.int64)
    sel = win_len > 0
    hashes[sel] = tok_hash[win_start[sel]]
    pw = _pow_table(int(tok_len.max(initial=0)) + 2)
    for j in range(1, w):
        sel = np.flatnonzero(win_len > j)
        if len(sel) == 0:
            break
        t = win_start[sel] + j
        y_len = tok_len[t]
        hashes[sel] = (hashes[sel] * pw[y_len + 1] + 32 * pw[y_len]
                       + tok_hash[t]) % K.PRIME

    if distinct:
        # PRIME < 2^30, so (doc, hash) packs into one int64 key;
        # np.unique's return_index is the first occurrence
        _, keep = np.unique((win_doc << 30) | hashes, return_index=True)
        keep.sort()
        hashes = hashes[keep]
        n_sh = np.bincount(win_doc[keep], minlength=n)
    else:
        n_sh = n_win
    offsets = np.concatenate(([0], np.cumsum(n_sh)))
    out = {"valid": valid, "offsets": offsets, "values": hashes,
           "n_sh": n_sh}

    # set mode: every valid doc has >= 1 shingle, a reduceat segment
    has = n_sh > 0
    starts = offsets[:-1][has]
    if want_minhash:
        out["minhash"] = []
        for a, b in K.MINHASH_PARAMS:
            col = np.zeros(n, dtype=np.int64)
            col[has] = np.minimum.reduceat((a * hashes + b) % K.PRIME, starts)
            out["minhash"].append(col)
    if want_simhash:
        shifts = np.arange(K.SIMHASH_BITS, dtype=np.int64)
        contrib = (((hashes[:, None] >> shifts) & 1) * 2 - 1)
        votes = np.add.reduceat(contrib, starts, axis=0)
        out["simhash"] = np.zeros(n, dtype=np.int64)
        out["simhash"][has] = (
            (votes > 0).astype(np.int64) << shifts).sum(axis=1)
    return out


def batch_signatures(
    texts: list[str | None], w: int,
    want_minhash: bool, want_simhash: bool,
    distinct: bool = True, pad_short: bool = True,
) -> tuple[list, list, list[np.ndarray] | None, np.ndarray | None]:
    """Signatures for one batch of documents given as Python strings —
    a thin wrapper over :func:`sign_batch`.

    Returns ``(sh_lists, n_sh, minhash_cols, simhash)`` where entries
    for None texts are None (matching the HOF fragments: every
    expression of a NULL text is NULL). ``minhash_cols`` is a list of
    N_MINHASH arrays and ``simhash`` an array, both aligned to the
    non-null compaction — callers use the returned sh_lists' None
    positions to re-expand."""
    s = sign_batch(pa.array(texts, type=pa.string()), w,
                   want_minhash, want_simhash, distinct, pad_short)
    valid, offsets = s["valid"], s["offsets"].tolist()
    values = s["values"].tolist()
    sh_lists = [values[offsets[i]:offsets[i + 1]] if ok else None
                for i, ok in enumerate(valid.tolist())]
    n_sh = [len(x) if x is not None else None for x in sh_lists]
    mh_cols = ([c[valid] for c in s["minhash"]] if want_minhash
               else None)
    sim = s["simhash"][valid] if want_simhash else None
    return sh_lists, n_sh, mh_cols, sim


def signature_frame(docs: DataFrame, w: int,
                    minhash: bool = True,
                    simhash: bool = False,
                    distinct: bool = True,
                    pad_short: bool = True) -> DataFrame:
    """``doc_id, sh, n_sh[, mh0..mh7][, simhash]`` for a ``doc_id, text``
    frame, computed by the vectorized kernel as a narrow ``mapInArrow``
    over the scan. Values are bit-identical to the sqlkit fragments'
    DuckDB form — pinned by tests — so every DuckDB oracle built from
    them keeps verifying this path."""
    fields = [docs.schema["doc_id"],
              StructField("sh", ArrayType(LongType()), True),
              StructField("n_sh", IntegerType(), True)]
    if minhash:
        fields += [StructField(f"mh{j}", LongType(), True)
                   for j in range(N_MINHASH)]
    if simhash:
        fields.append(StructField("simhash", LongType(), True))
    schema = StructType(fields)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            s = sign_batch(rb.column("text"), w, minhash, simhash,
                           distinct, pad_short)
            null = ~s["valid"]
            cols = {
                "doc_id": rb.column("doc_id"),
                "sh": pa.ListArray.from_arrays(
                    pa.array(s["offsets"], type=pa.int32()),
                    pa.array(s["values"], type=pa.int64()),
                    mask=pa.array(null)),
                "n_sh": pa.array(s["n_sh"], type=pa.int32(), mask=null),
            }
            if minhash:
                for j, col in enumerate(s["minhash"]):
                    cols[f"mh{j}"] = pa.array(col, mask=null)
            if simhash:
                cols["simhash"] = pa.array(s["simhash"], mask=null)
            yield pa.RecordBatch.from_pydict(cols)

    return docs.select("doc_id", "text").mapInArrow(gen, schema)

