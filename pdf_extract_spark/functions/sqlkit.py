"""Dual-dialect SQL fragment builders: Spark SQL ↔ DuckDB.

Every hash / set / vector primitive used by the dedup, similarity, and
text-analysis operators is emitted for BOTH engines from one builder, so the
Spark DataFrame query and its DuckDB oracle compute bit-identical values:

  * integer math only for hashing (polynomial rolling hash mod 2^31-scale
    prime) — no engine-specific hash functions (Spark murmur3 vs DuckDB
    wyhash would never cross-check);
  * float math as LEFT-TO-RIGHT sequential folds in float64 — both engines
    fold lists in order, so dot products / norms are bitwise identical;
  * set reductions only (sizes, mins, intersections) — never raw arrays,
    whose element order differs between engines.

The shingle / minhash / simhash fragments are the REFERENCE definitions of
the signature hashing: the DuckDB oracles replay them, and the vectorized
kernel the dedup operators run (``sigkernel.signature_frame``) is pinned to
their DuckDB form (tests/test_sigkernel.py, tests/test_properties.py).
The set and vector fragments (jaccard, containment, hamming, cosine, ...)
run Spark-side as plain Catalyst expressions in the operators' verify
steps.

Reference: the reference engine has no dedup/similarity surface (SURVEY.md
§2.9); these operators are the training-data-pipeline extension mandated by
the build brief.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"

#: shared hashing constants (public textbook scheme: polynomial rolling
#: hash, Rabin-Karp style, mod a large prime)
PRIME = 1_000_000_007
BASE = 31

#: fixed (a, b) parameter pairs for the k min-wise hash functions
#: h_j(x) = (a_j * x + b_j) mod PRIME  (a_j odd, < 2^30 so a*x < 2^60)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (472882049, 102334155), (741214181, 20365011), (215742349, 433494437),
    (635245993, 290309081), (378341617, 514229443), (891274613, 39088169),
    (157903721, 701408733), (564812489, 165580141),
]
SIMHASH_BITS = 32


def seq1(n: str, d: str) -> str:
    """[1..n] inclusive, 1-based."""
    return f"sequence(1, {n})" if d == SPARK else f"range(1, ({n})+1)"


def at(arr: str, i: str, d: str) -> str:
    """1-based element access."""
    return f"element_at({arr}, {i})" if d == SPARK else f"({arr})[{i}]"


def xform(arr: str, lam: str, d: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {lam})"


def afilter(arr: str, lam: str, d: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({arr}, {lam})"


def fold(arr: str, init: str, lam: str, d: str) -> str:
    """Left fold with explicit init — Spark ``aggregate`` vs DuckDB
    ``list_reduce`` with the init prepended (DuckDB has no init arg)."""
    if d == SPARK:
        return f"aggregate({arr}, {init}, {lam})"
    return f"list_reduce(list_prepend({init}, {arr}), {lam})"


def adistinct(arr: str, d: str) -> str:
    fn = "array_distinct" if d == SPARK else "list_distinct"
    return f"{fn}({arr})"


def asize(arr: str, d: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def amin(arr: str, d: str) -> str:
    fn = "array_min" if d == SPARK else "list_min"
    return f"{fn}({arr})"


def aintersect_size(a: str, b: str, d: str) -> str:
    """|distinct(a) ∩ distinct(b)| — both engines dedup the intersection."""
    fn = "array_intersect" if d == SPARK else "list_intersect"
    return asize(f"{fn}({a}, {b})", d)


def agg_list(col: str, d: str) -> str:
    """Group-aggregate a column into a list. Element ORDER differs
    between engines — only use under order-independent reductions
    (e.g. integer elementwise sums)."""
    return f"collect_list({col})" if d == SPARK else f"list({col})"


def zipadd(a: str, b: str, d: str) -> str:
    """Elementwise sum of two equal-length bigint arrays."""
    if d == SPARK:
        return f"zip_with({a}, {b}, (zx, zy) -> zx + zy)"
    return (f"list_transform(range(1, len({a}) + 1), "
            f"zz -> ({a})[zz] + ({b})[zz])")


def intdiv(a: str, b: str, d: str) -> str:
    return f"({a} DIV {b})" if d == SPARK else f"({a} // {b})"


def bxor(a: str, b: str, d: str) -> str:
    return f"({a} ^ {b})" if d == SPARK else f"xor({a}, {b})"


def bitslice(a: str, shift: int, mask: int, d: str) -> str:
    """(a >> shift) & mask — a true bit-field extraction (arithmetic
    shift + mask), correct for NEGATIVE bigints too, unlike the
    div/mod idiom which breaks on two's-complement values."""
    shr = (f"shiftright({a}, {shift})" if d == SPARK
           else f"({a} >> {shift})")
    return f"({shr} & {mask})"


def tokens(col: str, d: str) -> str:
    """Whitespace tokens, empties dropped."""
    split = f"split({col}, ' ')" if d == SPARK else f"string_split({col}, ' ')"
    return afilter(split, "t -> t <> ''", d)


#: block size for the vectorized Python polyhash (one-time power table)
_POLY_BLOCK = 1 << 16
_POLY_POWS = None  # lazy: numpy array of BASE**k % PRIME, k descending


def polyhash_bytes(data: bytes) -> int:
    """Python twin of the SQL :func:`polyhash` fragment, byte-wise —
    bit-identical to the per-byte Horner fold at ANY payload size, but
    the per-byte work runs in numpy (block-Horner: each 64 KiB block is
    ``sum(byte_i * BASE^(B-1-i)) mod PRIME`` as one vectorized
    multiply-sum, blocks combine with ``acc*BASE^B + block``).  ~100×
    the pure-Python loop on multi-MB payloads (r3 VERDICT: the decode-
    fallback hot path must hash at C speed), with zero semantic drift —
    the DuckDB oracle replays the same values.

    Overflow-safe in int64: byte < 2^8, power < PRIME < 2^30, so each
    product < 2^38 and a 2^16-term block sum < 2^54."""
    n = len(data)
    if n < 1024:  # loop beats numpy setup for small (oracle-sized) data
        acc = 0
        for b in data:
            acc = (acc * BASE + b) % PRIME
        return acc
    import numpy as np

    global _POLY_POWS
    if _POLY_POWS is None:
        pows = [1] * _POLY_BLOCK
        for k in range(1, _POLY_BLOCK):
            pows[k] = (pows[k - 1] * BASE) % PRIME
        _POLY_POWS = np.array(pows[::-1], dtype=np.int64)  # descending
    shift = pow(BASE, _POLY_BLOCK, PRIME)
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    acc = 0
    for off in range(0, n, _POLY_BLOCK):
        blk = arr[off: off + _POLY_BLOCK]
        m = len(blk)
        # exact dot product, NO elementwise mod (the 2^54 bound above):
        # ~5× cheaper than (blk*pw) % PRIME then sum
        h = int(blk.dot(_POLY_POWS[_POLY_BLOCK - m:])) % PRIME
        s = shift if m == _POLY_BLOCK else pow(BASE, m, PRIME)
        acc = (acc * s + h) % PRIME
    return acc


def polyhash(s: str, d: str) -> str:
    """Rolling hash of a string: fold (acc*31 + ascii(char)) mod PRIME.

    Identical in both engines (probed); '' hashes to 0."""
    ch = f"ascii(substring({s}, i, 1))"
    if d == DUCK:
        ch = f"cast({ch} as bigint)"
    codes = xform(seq1(f"length({s})", d), f"i -> {ch}", d)
    return fold(codes, "cast(0 as bigint)",
                f"(acc, x) -> (acc * {BASE} + x) % {PRIME}", d)


def token_shingles(toks: str, w: int, d: str) -> str:
    """w-token shingle strings of a token array (1-based windows); a doc
    shorter than w tokens yields its full join as the single shingle."""
    n = asize(toks, d)
    parts = ", ".join(at(toks, f"i + {k}", d) for k in range(w))
    windows = xform(seq1(f"greatest({n} - {w - 1}, 1)", d),
                    f"i -> concat_ws(' ', {parts})", d)
    return adistinct(windows, d)


def shingle_hashes(col: str, w: int, d: str) -> str:
    """Distinct polyhashes of the w-token shingles of a text column."""
    sh = token_shingles(tokens(col, d), w, d)
    return adistinct(xform(sh, f"s -> {polyhash('s', d)}", d), d)


def minhash(hashes: str, j: int, d: str) -> str:
    """j-th min-wise hash over a bigint hash array."""
    a, b = MINHASH_PARAMS[j]
    return amin(xform(hashes, f"x -> ({a} * x + {b}) % {PRIME}", d), d)


def simhash(hashes: str, d: str) -> str:
    """32-bit simhash over a bigint hash array: per-bit majority vote."""
    p2 = "cast(pow(2, j) as bigint)"
    bit = f"({intdiv('x', p2, d)} % 2)"
    vote = fold(hashes, "cast(0 as bigint)",
                f"(acc, x) -> acc + (case when {bit} = 1 then 1 else -1 end)", d)
    bits = xform(f"sequence(0, {SIMHASH_BITS - 1})" if d == SPARK
                 else f"range(0, {SIMHASH_BITS})",
                 f"j -> case when {vote} > 0 then {p2} else cast(0 as bigint) end",
                 d)
    return fold(bits, "cast(0 as bigint)", "(acc, x) -> acc + x", d)


def hamming(a: str, b: str, d: str) -> str:
    return f"bit_count({bxor(a, b, d)})"


def as_double_array(col: str, d: str) -> str:
    return (f"cast({col} as array<double>)" if d == SPARK
            else f"({col})::DOUBLE[]")


def dot(a: str, b: str, d: str) -> str:
    """Sequential float64 dot product — order-identical in both engines."""
    if d == SPARK:
        prods = f"zip_with({a}, {b}, (x, y) -> x * y)"
    else:
        prods = xform(seq1(f"len({a})", d),
                      f"i -> {at(a, 'i', d)} * {at(b, 'i', d)}", d)
    return fold(prods, "cast(0.0 as double)", "(acc, x) -> acc + x", d)


def sqnorm(a: str, d: str) -> str:
    return dot(a, a, d)


def cosine(a: str, b: str, d: str) -> str:
    """round(dot/(|a||b|), 6) — rounded to absorb nothing: inputs are
    bit-identical, rounding is belt-and-braces for cross-engine repr."""
    return (f"round({dot(a, b, d)} / "
            f"(sqrt({sqnorm(a, d)}) * sqrt({sqnorm(b, d)})), 6)")


def jaccard(a: str, b: str, na: str, nb: str, d: str) -> str:
    """|a∩b| / |a∪b| over distinct-element arrays with precomputed sizes."""
    inter = aintersect_size(a, b, d)
    return f"round(cast({inter} as double) / ({na} + {nb} - {inter}), 6)"


def containment(a: str, b: str, na: str, nb: str, d: str) -> str:
    """Max-direction set containment |a∩b| / min(|a|,|b|) — Broder's
    containment coefficient: 1.0 when the smaller set is a subset of
    the larger, regardless of the size gap that keeps jaccard low."""
    inter = aintersect_size(a, b, d)
    return f"round(cast({inter} as double) / least({na}, {nb}), 6)"
