"""Property-based tests (hypothesis) — SURVEY.md §5.4: idempotence,
round-trips, and never-crash invariants over generated inputs."""

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extract_spark.functions.sentencejoin import NgramModel, SentenceJoinScorer
from pdf_extract_spark.functions.textops import (
    _parse_content_array,
    interpret_page,
)
from pdf_extract_spark.functions.textrules import RuleSet
from pdf_extract_spark.sources.corpus import synth_pdf
from pdf_extract_spark.sources.pdfcrypt import (
    compute_u,
    file_key,
    rc4,
)
from pdf_extract_spark.sources.pdfparse import PDFDocument
from tests.test_pdfcrypt import compute_o

RULES = RuleSet()

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)


@settings(max_examples=60, deadline=None)
@given(text_strategy)
def test_normalize_idempotent(s):
    once = RULES.normalize_str(s)
    assert RULES.normalize_str(once) == once


@settings(max_examples=60, deadline=None)
@given(text_strategy)
def test_repair_stable_after_two_applications(s):
    # repair is convergent: a second application is a fixpoint of a third
    twice = RULES.repair_str(RULES.repair_str(s))
    assert RULES.repair_str(twice) == twice


_DOC = PDFDocument(synth_pdf(0))  # provides the /F1 Helvetica resources
_RES = _DOC.pages()[0].resources


def _interpret(content: bytes):
    return interpret_page(_DOC, 1, content, _RES, (0, 0, 612, 792), 0, {})


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=512))
def test_tokenizer_never_crashes(data):
    # the production scanner, on arbitrary bytes and inside a text object
    _interpret(data)
    _interpret(b"BT /F1 10 Tf " + data + b" ET")


@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6).map(lambda f: round(f, 3)),
                min_size=1, max_size=12))
def test_tokenizer_number_runs_roundtrip(nums):
    want = [float(f"{n:.3f}") for n in nums]
    # a number run inside an array: the array parser
    run = " ".join(f"{n:.3f}" for n in nums).encode()
    assert _parse_content_array(run + b"] W n", 0) == (want, len(run) + 1)
    # number runs in the scanner: every number, then the six Tm operands
    # with one number as the translation x, all in one run; the text
    # run Tm places reads x back as its left edge
    stream = b"BT /F1 10 Tf " + b" ".join(
        b"%s 1 0 0 1 %.3f 0 Tm (x) Tj" % (run, n) for n in nums) + b" ET"
    runs, _ = _interpret(stream)
    assert [r.left for r in runs] == want


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=1, max_size=16), st.binary(max_size=256))
def test_rc4_roundtrip(key, data):
    assert rc4(key, rc4(key, data)) == data


@settings(max_examples=20, deadline=None)
@given(st.integers(-(2**31), 2**31 - 1), st.sampled_from([2, 3]),
       st.binary(min_size=16, max_size=16))
def test_security_handler_u_entry_verifies(p, r, doc_id):
    length = 40 if r == 2 else 128
    o = compute_o(b"owner", b"", r, length)
    key = file_key(b"", o, p, doc_id, r, length)
    u = compute_u(key, doc_id, r)
    # Algorithm 6 check as the handler performs it
    if r == 2:
        assert u == compute_u(key, doc_id, r)
    assert compute_u(key, doc_id, r)[:16] == u[:16]


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from("alpha beta gamma delta".split()),
             min_size=1, max_size=6).map(" ".join),
    min_size=2, max_size=10,
))
def test_ngram_model_arpa_roundtrip_property(lines):
    m = NgramModel.train(
        [ln.split() + ["___BREAK___"] for ln in lines], order=3
    )
    m2 = NgramModel.from_arpa(m.to_arpa().splitlines())
    for ctx in [(), ("alpha",), ("alpha", "beta")]:
        for w in ("alpha", "gamma", "___BREAK___", "unseen-token"):
            assert abs(m.logprob(ctx, w) - m2.logprob(ctx, w)) < 1e-5


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from("one two three four five".split()),
             min_size=2, max_size=8).map(" ".join),
    min_size=3, max_size=8,
))
def test_scorer_threshold_monotone(lines):
    sc = SentenceJoinScorer.train(lines, order=3)
    score = sc.score("one two", "three four")
    sc.threshold = score + 1.0
    assert sc.should_join("one two", "three four")
    sc.threshold = score - 1.0
    assert not sc.should_join("one two", "three four")


def test_aes_cbc_roundtrip_property():
    """Property: CBC decrypt ∘ encrypt = identity for random keys,
    IVs, and payload lengths (all three key sizes)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extract_spark.sources.aes import cbc_decrypt, cbc_encrypt

    @settings(max_examples=40, deadline=None)
    @given(
        key=st.binary(min_size=16, max_size=16)
        | st.binary(min_size=24, max_size=24)
        | st.binary(min_size=32, max_size=32),
        iv=st.binary(min_size=16, max_size=16),
        payload=st.binary(min_size=0, max_size=300),
    )
    def check(key, iv, payload):
        assert cbc_decrypt(key, iv, cbc_encrypt(key, iv, payload)) == payload

    check()


def test_rc4_aes_object_key_determinism():
    """Property: per-object keys are deterministic and distinct across
    object numbers (Algorithm 1 — a collision would decrypt one object
    with another's keystream)."""
    from tests.test_pdfcrypt import DOC_ID, _perm, make_encrypted_pdf
    from pdf_extract_spark.sources.pdfparse import PDFDocument

    pdf = make_encrypted_pdf(4, 4, 128, _perm(3, 5, 12), cfm="AESV2")
    doc = PDFDocument(pdf)
    keys = {doc.crypt.object_key(n, 0) for n in range(1, 40)}
    assert len(keys) == 39
    assert doc.crypt.object_key(7, 0) == doc.crypt.object_key(7, 0)


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 14), st.integers(1, 14),
    st.sampled_from([0, 2, 4, 6]),
    st.booleans(),
    st.lists(st.sampled_from([0, 1, 2, 3, 4]), min_size=1, max_size=5),
    st.randoms(use_true_random=False),
)
def test_png_roundtrip_property(w, h, color_type, interlaced, filters, rng):
    """Any small image, any color type, any filter mix, interlaced or
    not: PNG encode (test encoder) → parse_png_pixels returns exactly
    the source luma grid."""
    from test_multimodal import TestPngPixelDecode

    from pdf_extract_spark.functions.mediacodec import parse_png_pixels

    pixels = {(r, c): (rng.randrange(256), rng.randrange(256),
                       rng.randrange(256))
              for r in range(h) for c in range(w)}
    png = TestPngPixelDecode._png(
        w, h, lambda r, c: pixels[(r, c)], color_type=color_type,
        row_filters=filters, interlace=1 if interlaced else 0)
    got = parse_png_pixels(png)
    assert got is not None and got[0] == w and got[1] == h
    want = [[
        (lambda p: (p[0] * 299 + p[1] * 587 + p[2] * 114) // 1000
         if color_type != 2 else None)(pixels[(r, c)])
        for c in range(w)] for r in range(h)]
    if color_type == 2:
        want = [[(pixels[(r, c)][0] * 299 + pixels[(r, c)][1] * 587
                  + pixels[(r, c)][2] * 114) // 1000
                 for c in range(w)] for r in range(h)]
    assert got[2] == want


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 3), st.integers(1, 3),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_jpeg_roundtrip_property(bw, bh, progressive, rng):
    """Random block-sized images survive the baseline AND progressive
    JPEG round trip within the flat-quantizer error bound."""
    import numpy as np
    from jpeg_encoder import encode_jpeg, encode_jpeg_progressive

    from pdf_extract_spark.functions.jpegdec import decode_jpeg_luma

    w, h = bw * 8 - rng.randrange(0, 3), bh * 8 - rng.randrange(0, 3)
    img = np.array([[rng.randrange(256) for _ in range(w)]
                    for _ in range(h)], dtype=float)
    data = (encode_jpeg_progressive(img) if progressive
            else encode_jpeg(img))
    got = decode_jpeg_luma(data)
    assert got is not None and (got[0], got[1]) == (w, h)
    assert np.abs(np.array(got[2], dtype=float) - img).max() <= 2.0


# ---------------------------------------------------------------------------
# vectorized signature kernel vs the DuckDB oracle fragments
# ---------------------------------------------------------------------------

_token_alpha = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters=" ",
        exclude_categories=("Cs",),  # no lone surrogates
    ),
    min_size=1, max_size=8,
)


@given(st.lists(_token_alpha, min_size=1, max_size=40))
@settings(max_examples=40, deadline=None)
def test_sigkernel_matches_duckdb_on_random_unicode(tokens):
    """Property form of the kernel↔oracle equality: for ARBITRARY
    unicode token streams, the numpy kernel's shingle hashes, sizes and
    min-wise values equal the DuckDB HOF fragments bit-for-bit (the
    pair the driver's gate actually compares)."""
    import duckdb

    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.functions.sigkernel import batch_signatures

    text = " ".join(tokens)
    sh_lists, n_sh, mh_cols, _ = batch_signatures(
        [text], 3, want_minhash=True, want_simhash=False)

    con = duckdb.connect()
    sh = K.shingle_hashes("text", 3, K.DUCK)
    row = con.execute(
        f"""select {sh} as sh,
                   {K.asize('sh0.sh', K.DUCK)} as n_sh,
                   {K.minhash('sh0.sh', 0, K.DUCK)} as mh0,
                   {K.minhash('sh0.sh', 7, K.DUCK)} as mh7
            from (select ? as text) t,
                 lateral (select {sh} as sh) sh0""",
        [text],
    ).fetchone()
    # sh as a SET: DuckDB's list_distinct does not preserve
    # first-occurrence order (sqlkit's contract: arrays only ever feed
    # order-insensitive reductions). Sizes and min-wise values are
    # exact.
    assert sorted(sh_lists[0]) == sorted(row[0])
    assert len(sh_lists[0]) == len(row[0])  # same dedup, no collisions lost
    assert n_sh[0] == row[1]
    assert int(mh_cols[0][0]) == row[2]
    assert int(mh_cols[7][0]) == row[3]


# ---------------------------------------------------------------------------
# the kernel signs a whole batch: pin every doc of a multi-doc batch
# ---------------------------------------------------------------------------

#: edge docs in one batch: null / empty / whitespace-only texts,
#: leading, trailing and multi-space runs, tab and NBSP (NOT
#: separators — only U+0020 is), astral codepoints, 0-2 token docs
#: next to long ones, so a token merged across a document boundary
#: changes some doc's hashes
KERNEL_EDGE_BATCH = [
    "the quick brown fox", None, "", "   ", " lead and trail ",
    "x  y   z  w", "tab\tis\ta letter", "nbsp is a letter",
    "astral \U0001F600 \U0001D11E codepoints \U0001F600 \U0001D11E",
    "solo", "two tokens", " ", "a b a b a b a b", None,
    "  \t", "end of batch docs",
]


def _kernel_docs(texts, w, form):
    """Per-doc (sh, mh0, mh7, simhash) from ONE kernel call over the
    batch, in set mode, plus per-doc sh in positional mode. ``form``
    "sliced" signs a slice (non-zero offset) of a bigger array whose
    outer docs must not leak in; "large" a large_string array (what
    Spark sends under ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    import pyarrow as pa

    from pdf_extract_spark.functions.sigkernel import sign_batch

    if form == "sliced":
        arr = pa.array(["outer head doc", *texts, "outer tail doc"])
        arr = arr.slice(1, len(texts))
    else:
        arr = pa.array(texts, pa.large_string() if form == "large"
                       else pa.string())
    _assert_slice_invariant(arr, w)
    out = []
    for distinct in (True, False):
        s = sign_batch(arr, w, distinct, distinct, distinct, distinct)
        off, vals = s["offsets"], s["values"].tolist()
        rows = []
        for i in range(len(texts)):
            if not s["valid"][i]:
                rows.append(None)
                continue
            sh = vals[off[i]:off[i + 1]]
            assert int(s["n_sh"][i]) == len(sh)
            rows.append((sh, int(s["minhash"][0][i]),
                         int(s["minhash"][7][i]), int(s["simhash"][i]))
                        if distinct else sh)
        out.append(rows)
    return out


def _assert_slice_invariant(arr, w):
    """``sign_batch`` returns identical arrays whether it signs ``arr``
    one document per slice (a 1-byte budget: most docs are larger than
    it) or in one slice, in all four modes: minhash, simhash, set and
    positional."""
    import numpy as np

    from pdf_extract_spark.functions import sigkernel

    modes = [(True, False), (False, True), (False, False),
             (False, False, False, False)]
    saved = sigkernel.SLICE_BYTES
    got = []
    try:
        for budget in (1, 1 << 40):
            sigkernel.SLICE_BYTES = budget
            got.append([sigkernel.sign_batch(arr, w, *m) for m in modes])
    finally:
        sigkernel.SLICE_BYTES = saved
    for one, whole in zip(*got):
        assert one.keys() == whole.keys()
        for k in whole:
            for a, b in zip(np.atleast_2d(one[k]), np.atleast_2d(whole[k])):
                assert a.dtype == b.dtype and np.array_equal(a, b), k


def _duckdb_docs(texts, w):
    """The same per-doc values from the sqlkit DuckDB fragments: set
    mode (``shingle_hashes`` + minhash + simhash) and positional mode
    (``gram_hashes_duck``, the exact-substring oracle's fragment)."""
    import duckdb
    import pyarrow as pa

    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.functions.textstats import gram_hashes_duck

    D = K.DUCK
    toks = K.tokens("text", D)
    grams = gram_hashes_duck("toks", w)
    con = duckdb.connect()
    con.register("documents", pa.table({
        "i": list(range(len(texts))), "text": pa.array(texts, pa.string())}))
    rows = con.execute(f"""
        select i, sh, {K.minhash('sh', 0, D)}, {K.minhash('sh', 7, D)},
               {K.simhash('sh', D)}, g
        from (select i, {K.shingle_hashes('text', w, D)} as sh,
                     {grams} as g
              from (select i, text, {toks} as toks from documents))
        order by i""").fetchall()
    return ([None if r[1] is None else (r[1], r[2], r[3], r[4])
             for r in rows],
            [r[5] for r in rows])


def _assert_batch_matches_duckdb(texts, w):
    want_set, want_pos = _duckdb_docs(texts, w)
    for form in ("plain", "sliced", "large"):
        got_set, got_pos = _kernel_docs(texts, w, form)
        for t, g, d, gp, dp in zip(texts, got_set, want_set, got_pos,
                                   want_pos):
            if t is None:
                # a NULL text has NULL signatures, as in the Spark HOF
                # form (DuckDB's fragments read it as the empty doc)
                assert g is None and gp is None
                continue
            # sh as a SET (DuckDB's list_distinct does not keep
            # first-occurrence order), same size: no hash lost
            assert sorted(g[0]) == sorted(d[0]) and len(g[0]) == len(d[0]), t
            assert g[1:] == d[1:], t
            # positional mode is an ORDERED pin
            assert gp == dp, t


def test_sigkernel_batch_edge_cases_match_duckdb():
    """Every doc of one multi-document batch (plain, sliced and
    large_string) equals
    the DuckDB fragments in set and positional mode, at w = 1, 2, 3
    and 8 (8 is the exact-substring and decontamination width), and
    every form — an empty array too — signs the same at any slice
    budget."""
    import pyarrow as pa

    for w in (1, 2, 3, 8):
        _assert_batch_matches_duckdb(KERNEL_EDGE_BATCH, w)
        _assert_slice_invariant(pa.array([], pa.string()), w)


_kernel_token = st.text(
    alphabet=st.one_of(
        st.sampled_from(["\t", " ", "\U0001F600", "\U0001D11E", "é"]),
        st.characters(codec="utf-8", exclude_characters=" ",
                      exclude_categories=("Cs",)),
    ),
    min_size=1, max_size=5,
)
_kernel_doc = st.one_of(
    st.none(),
    st.tuples(
        st.text(" ", max_size=3),
        st.lists(st.tuples(st.text(" ", min_size=1, max_size=3),
                           _kernel_token),
                 max_size=8),
        st.text(" ", max_size=2),
    ).map(lambda d: d[0] + "".join(sep + t for sep, t in d[1])[1:]
          + d[2]),
)


@given(st.lists(_kernel_doc, min_size=2, max_size=12))
@settings(max_examples=30, deadline=None)
def test_sigkernel_batch_matches_duckdb_on_random_batches(texts):
    """Property form of the batch pin: random batches of null, empty,
    space-run and short docs over a unicode alphabet with tab, NBSP and
    astral codepoints, signed in ONE kernel call, plain, sliced and
    large_string."""
    _assert_batch_matches_duckdb(texts, 3)
