"""Bit-identity of the vectorized signature kernel (functions/sigkernel)
against the DuckDB oracle form — the sqlkit fragments every dedup oracle
replays. A drift of a single hash value here would silently change
every LSH band key, so the pin is exact (arrays element-for-element, not
set-wise)."""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

#: adversarial docs: unicode (BMP + astral codepoints), repeated
#: shingles, single-space runs, long tokens.  All have >= 3 tokens, so
#: every doc has a full w-token window.
EDGE_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a b c"),
    (3, "répété répété répété répété accentué"),
    (4, "euro € sign and astral 😀 emoji tokens here"),
    (5, "x  y   z  w"),  # multi-space runs -> empty tokens dropped
    (6, " ".join(["tok%d" % (i % 7) for i in range(300)])),
    (7, "αβγ δεζ ηθι κλμ νξο"),
    (8, "samesame " * 40 + "tail end token"),
]

#: short docs (< w tokens) exercise the fewer-than-w window join
SHORT_DOCS = [(11, "solo"), (12, "two tokens"), (13, "")]

SIG_COLS = ["doc_id", "sh", "n_sh"] + [f"mh{j}" for j in range(8)] + [
    "simhash"]


def _collect(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


def _duckdb_signatures(documents_sql: str, w: int, **tables) -> list:
    """``SIG_COLS`` rows from the sqlkit DuckDB fragments over a
    ``(doc_id, text)`` relation. ``sh`` is ordered element-for-element:
    the positional window hashes (``gram_hashes_duck``, the
    exact-substring oracle's fragment) with repeats dropped after their
    first occurrence. That ordered list must hold exactly the set
    ``shingle_hashes`` gives, which minhash/simhash are computed from."""
    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.functions.textstats import gram_hashes_duck

    D = K.DUCK
    con = duckdb.connect()
    for name, table in tables.items():
        con.register(name, table)
    mh = ", ".join(f"{K.minhash('sh', j, D)}" for j in range(8))
    rows = con.execute(f"""
        select doc_id,
               list_filter(g, (x, i) -> list_position(g, x) = i) as ordered,
               sh, {K.asize('sh', D)}, {mh}, {K.simhash('sh', D)}
        from (select doc_id, {K.shingle_hashes('text', w, D)} as sh,
                     {gram_hashes_duck('toks', w)} as g
              from (select doc_id, text, {K.tokens('text', D)} as toks
                    from ({documents_sql})))
        order by doc_id""").fetchall()
    out = []
    for doc_id, ordered, sh, *rest in rows:
        # a doc shorter than w tokens has no full window; its one padded
        # shingle needs no order
        ordered = ordered or sh
        assert sorted(ordered) == sorted(sh), doc_id
        out.append((doc_id, ordered, *rest))
    return out


def test_kernel_matches_hof_on_corpus(spark):
    """The kernel on the sf0.001 corpus equals the DuckDB fragments on
    the same parquet, every column, sh element-for-element."""
    from pdf_extract_spark.functions.sigkernel import signature_frame
    from pdf_extract_spark.operators.dedup import SHINGLE_W
    from pdf_extract_spark.runtime import read_documents

    fast = _collect(
        signature_frame(read_documents(spark, SF_DIR), SHINGLE_W,
                        minhash=True, simhash=True), SIG_COLS)
    want = _duckdb_signatures(
        f"select doc_id, text from read_parquet('{SF_DIR}/documents.parquet')",
        SHINGLE_W)
    assert len(fast) == len(want) > 0
    assert fast == want


def test_kernel_matches_hof_on_edge_docs(spark):
    """The adversarial docs: kernel == DuckDB fragments, sh
    element-for-element."""
    import pyarrow as pa

    from pdf_extract_spark.functions.sigkernel import signature_frame

    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    fast = _collect(signature_frame(docs, 3, minhash=True, simhash=True),
                    SIG_COLS)
    ids, texts = zip(*EDGE_DOCS)
    want = _duckdb_signatures(
        "select doc_id, text from edge", 3,
        edge=pa.table({"doc_id": list(ids), "text": list(texts)}))
    assert fast == want


def test_kernel_matches_duckdb_on_short_docs(spark):
    """Docs shorter than w tokens: the single window joins the available
    tokens (DuckDB's out-of-range list index is NULL, concat_ws skips
    it)."""
    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.functions.sigkernel import signature_frame

    docs = spark.createDataFrame(SHORT_DOCS, "doc_id long, text string")
    fast = [
        (r[0], sorted(r[1]), *r[2:])
        for r in _collect(signature_frame(docs, 3, minhash=True),
                          ["doc_id", "sh", "n_sh", "mh0", "mh7"])
    ]
    con = duckdb.connect()
    rows = ", ".join("(%d, '%s')" % (i, t) for i, t in SHORT_DOCS)
    sh = K.shingle_hashes("text", 3, K.DUCK)
    got = con.sql(f"""
        with documents(doc_id, text) as (values {rows}),
        s as (select doc_id, {sh} as sh from documents),
        z as (select doc_id, sh, {K.asize('sh', K.DUCK)} as n_sh from s)
        select doc_id, sh, n_sh,
               {K.minhash('sh', 0, K.DUCK)} as mh0,
               {K.minhash('sh', 7, K.DUCK)} as mh7
        from z order by doc_id
    """).fetchall()
    # sh compares as a SET: DuckDB list_distinct does not preserve
    # first-occurrence order (a short doc has at most one shingle; the
    # ORDER pin is the positional fragment in the two tests above)
    want = sorted((r[0], sorted(r[1]), r[2], r[3], r[4]) for r in got)
    assert fast == want


def test_polyhash_strings_matches_bytes_twin():
    """On pure-ASCII input codepoints == bytes, so the kernel's segment
    hash (the token hash every shingle hash is composed from) and the
    byte block-Horner twin must agree at every length — with junk
    codepoints between the segments, which the hash must skip."""
    import numpy as np

    from pdf_extract_spark.functions.sigkernel import segment_polyhash
    from pdf_extract_spark.functions.sqlkit import polyhash_bytes

    cases = ["a", "abc xyz", "q" * 1023, "r s t " * 700, "Z" * 70000]
    blob = "#".join([""] + cases + [""])
    codes = np.frombuffer(blob.encode("utf-32-le"),
                          dtype=np.uint32).astype(np.int64)
    lens = np.array([len(c) for c in cases], dtype=np.int64)
    starts = 1 + np.cumsum(lens + 1) - (lens + 1)
    got = segment_polyhash(codes, starts, lens)
    want = np.array([polyhash_bytes(c.encode()) for c in cases])
    assert (got == want).all()


def test_polyhash_long_astral_segments_match_codepoint_fold():
    """The token hash sums raw per-character terms (< 2^51 each) for
    segments shorter than ``LAZY_MOD_CHARS`` and reduces each term
    first from there on. Runs of the largest codepoint U+10FFFF on both
    sides of that bound, and one far past it (40,000 raw terms
    overflow int64), must equal the per-codepoint fold
    ``acc = (acc*31 + ord(c)) % PRIME`` — alone and in one call."""
    import numpy as np

    from pdf_extract_spark.functions.sigkernel import (
        LAZY_MOD_CHARS, segment_polyhash)
    from pdf_extract_spark.functions.sqlkit import BASE, PRIME

    astral = "\U0010ffff"
    cases = [astral * (LAZY_MOD_CHARS - 1), astral * LAZY_MOD_CHARS,
             astral * 40000,
             ("ab\U0001f600" + astral + "z" * 9) * 300]

    def fold(s: str) -> int:
        acc = 0
        for c in s:
            acc = (acc * BASE + ord(c)) % PRIME
        return acc

    def run(segs: list[str]) -> list[int]:
        blob = "#".join([""] + segs + [""])
        codes = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
        lens = np.array([len(c) for c in segs], dtype=np.int64)
        starts = 1 + np.cumsum(lens + 1) - (lens + 1)
        return segment_polyhash(codes, starts, lens).tolist()

    want = [fold(c) for c in cases]
    assert [run([c])[0] for c in cases] == want
    assert run(cases) == want


def test_null_text_yields_null_signature(spark):
    from pdf_extract_spark.functions.sigkernel import signature_frame

    docs = spark.createDataFrame(
        [(1, "three token doc"), (2, None)], "doc_id long, text string")
    rows = {r.doc_id: r for r in signature_frame(
        docs, 3, minhash=True, simhash=True).collect()}
    assert rows[2].sh is None and rows[2].n_sh is None
    assert rows[2].mh0 is None and rows[2].simhash is None
    assert rows[1].sh and rows[1].n_sh == len(rows[1].sh)


def test_kernel_working_set_is_bounded_by_slice_budget():
    """``sign_batch`` signs an Arrow batch in slices of at most
    ``SLICE_BYTES`` of text, so its numpy working set is one slice's
    plus the outputs, not ~45x (~70x with simhash) the whole batch: on
    2,000 docs of ~4 KB (8 MB of text) the traced peak stays under
    32 MiB."""
    import random
    import tracemalloc

    import pyarrow as pa

    from pdf_extract_spark.functions.sigkernel import sign_batch

    rng = random.Random(7)
    vocab = ["".join(rng.choices("abcdefghijklmnopqrstuvwxyz",
                                 k=rng.randint(2, 9)))
             for _ in range(5000)]
    text = pa.array([" ".join(rng.choices(vocab, k=620))
                     for _ in range(2000)])
    assert text.buffers()[2].size > 8_000_000
    tracemalloc.start()
    try:
        sign_batch(text, 3, want_minhash=True, want_simhash=True)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, f"{peak / 2**20:.0f} MiB"
