"""Document deduplication operators for the training-data pipeline.

Five dedup families over the ``documents`` table, each a DataFrame
operator with a bit-identical DuckDB oracle.  Shingle hashes and
signatures come from the vectorized Arrow kernel (functions/sigkernel.py,
one narrow ``mapInArrow`` per scan); the oracles replay the same hashing
as SQL fragments (functions/sqlkit.py), and the kernel is pinned to them.

Scale design (100 TB / 10^12 docs):
  * exact           — one hash-aggregate shuffle on md5(normalized text);
                      map-side partial agg, AQE-coalesced. O(n).
  * minhash_lsh     — signatures from the kernel in the scan stage,
                      persisted; candidates from the (band_idx,
                      band_key) equi-join of slim band rows, each band
                      key one int64 ``xxhash64`` of the band's minhashes
                      — the standard MinHash-LSH band trick, so candidate
                      generation is O(n·bands) not O(n²).  ONE candidate
                      rule (:func:`band_join`: keep a pair on its first
                      colliding band) serves every MinHash path, simhash,
                      SRP-LSH and media phash.  The jaccard verify
                      broadcasts the candidate pairs and streams the
                      persisted shingle frame past them once per pair
                      side, so only candidates' shingle sets are ever
                      shipped — never the corpus's.
  * simhash         — 32-bit fingerprints in-scan; the same band join on
                      8-bit sub-keys (pigeonhole: hamming ≤ 3 pairs must
                      share one of 4 bands) then exact hamming verify.
  * ngram_jaccard   — exact verification operator; the all-pairs form here
                      is the small-scale oracle-checkable variant with a
                      lossless size-ratio prefilter (|A∩B|/|A∪B| ≥ τ ⟹
                      min(|A|,|B|) ≥ τ·max(|A|,|B|)). At scale it runs on
                      LSH candidates only (dedup_minhash_lsh verifies with
                      the same jaccard expression).
  * embedding_cosine — near-dup by cosine ≥ τ; all-pairs at test scale,
                      label-bucketed (IVF-style) at scale — see
                      operators/similarity.py.

The reference engine has no dedup surface (SURVEY.md §2.9); this module is
the training-data-pipeline extension from the build brief.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sqlkit as K
from ..functions.sqlkit import DUCK, SPARK
from ..runtime import read_documents, track_cache

SHINGLE_W = 3          # w-token shingling
JACCARD_TAU = 0.8      # near-dup verification threshold
N_MINHASH = 8          # signature length
LSH_BANDS = 2          # 2 bands x 4 rows: P(candidate | j=0.95) ≈ 0.97
LSH_ROWS = N_MINHASH // LSH_BANDS
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = 4      # 4 x 8-bit bands; pigeonhole-complete for ≤ 3 flips
COSINE_TAU = 0.45
SKETCH_BUCKETS = 8     # bucketBy count of every materialized sketch table


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5 of the normalized text.

    Output: one row per document with its duplicate-group representative
    (min doc_id sharing the hash) and group size. A single hash-aggregate
    shuffle; at 10^12 docs the group-by key is the 128-bit digest, evenly
    distributed — no skew by construction."""
    docs = read_documents(spark, sf_dir).select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("text_md5")
    )
    groups = docs.groupBy("text_md5").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("group_size")
    )
    return (
        docs.join(groups, "text_md5")
        .select(
            "doc_id", "rep_id", "group_size",
            (F.col("doc_id") != F.col("rep_id")).alias("is_dup"),
        )
    )


def exact_duplicates_oracle() -> str:
    return """
        with h as (
            select doc_id, md5(lower(trim(text))) as text_md5 from documents
        ), g as (
            select text_md5, min(doc_id) as rep_id,
                   cast(count(*) as bigint) as group_size
            from h group by text_md5
        )
        select h.doc_id, g.rep_id, g.group_size,
               h.doc_id <> g.rep_id as is_dup
        from h join g using (text_md5)
    """


# ---------------------------------------------------------------------------
# n-gram jaccard (exact all-pairs with lossless size prefilter)
# ---------------------------------------------------------------------------

def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shingle-hash array per doc, computed by the VECTORIZED
    kernel (functions/sigkernel.py: one narrow Arrow map, numpy
    segment-Horner hashing — bit-identical to the HOF fragments the
    DuckDB oracles replay, pinned by tests/test_sigkernel.py).  The
    interpreted HOF form cost 26-194 s per benched query at sf0.1
    (r4 VERDICT, reproduced); the kernel is the 100 TB path.

    The frame is persisted: both callers reference it from several
    plan branches (self-join sides, probe and index sides, verify
    joins) and Spark recomputes common subplans per branch.  Cache
    lifetime is caller-owned: the persist is registered with
    runtime.track_cache, and harnesses release between queries."""
    from ..functions.sigkernel import signature_frame

    out = signature_frame(read_documents(spark, sf_dir), SHINGLE_W,
                          minhash=False)
    return track_cache(out)


_SHINGLED_CTE_DUCK = f"""
    shingled as (
        select doc_id, {K.shingle_hashes('text', SHINGLE_W, DUCK)} as sh
        from documents
    ), sized as (
        select doc_id, sh, {K.asize('sh', DUCK)} as n_sh from shingled
    )
"""


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs w-shingle jaccard ≥ τ (exact). The size-ratio prefilter is
    lossless, cutting candidate pairs before the set intersection; at real
    scale this operator only ever runs on LSH candidates."""
    s = _shingled(spark, sf_dir)
    a, b = s.alias("a"), s.alias("b")
    jac = K.jaccard("a.sh", "b.sh", "a.n_sh", "b.n_sh", SPARK)
    return (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least("a.n_sh", "b.n_sh")
               >= JACCARD_TAU * F.greatest("a.n_sh", "b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.expr(jac).alias("jacc"),
        )
        .filter(F.col("jacc") >= JACCARD_TAU)
    )


def ngram_jaccard_pairs_oracle() -> str:
    jac = K.jaccard("a.sh", "b.sh", "a.n_sh", "b.n_sh", DUCK)
    return f"""
        with {_SHINGLED_CTE_DUCK}
        select a.doc_id as doc_id_a, b.doc_id as doc_id_b, {jac} as jacc
        from sized a join sized b
          on a.doc_id < b.doc_id
         and least(a.n_sh, b.n_sh) >= {JACCARD_TAU} * greatest(a.n_sh, b.n_sh)
        where {jac} >= {JACCARD_TAU}
    """


# ---------------------------------------------------------------------------
# set containment (prefix-filtered containment join, PPJoin-style)
# ---------------------------------------------------------------------------

#: containment threshold as an exact rational (4/5 = 0.8): the probe
#: count must be integer-exact in BOTH engines, so no float τ anywhere
#: in candidate generation
CONTAIN_NUM, CONTAIN_DEN = 4, 5
CONTAIN_TAU = CONTAIN_NUM / CONTAIN_DEN


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-substring detection: pairs with max-direction shingle
    containment |A∩B| / min(|A|,|B|) ≥ τ — the duplicates jaccard
    misses when one document CONTAINS the other (quote farms, page
    aggregations, boilerplate-wrapped mirrors: |A∩B|/|A∪B| shrinks with
    the size gap, |A∩B|/|A| does not).

    Candidate generation is a LOSSLESS prefix filter (the PPJoin-family
    trick, public knowledge): order every document's shingles by global
    document frequency (rarest first, shingle hash as the total
    tie-break), and probe with the first ``n - ⌈τ·n⌉ + 1`` of them.  If
    |A∩B| ≥ τ·min(|A|,|B|), then — taking A as the smaller side —
    fewer than ``(1-τ)·|A| + 1`` of A's shingles are missing from B,
    so at least one probe of A hits B's inverted index.  Completeness
    needs no assumption about WHICH subset probes; choosing the
    globally rarest minimizes the index fan-out.

    A second LOSSLESS prune, PPJoin's positional filter, runs before
    the exact verify: every occurrence carries its rank in the doc's
    frequency-sorted shingle order, and a candidate pair's overlap is
    bounded by ``1 + min(|A|-i, |B|-j)`` for a shared shingle at ranks
    (i, j) — all further common shingles sit after it on both sides.
    For a TRUE pair the first common shingle lies inside A's probe
    prefix (that is the prefix-filter theorem), so the best bound over
    the pair's probe hits is ≥ ⌈τ·min⌉ and the prune keeps it; dense
    corpora shed ~99% of candidates here (measured sf0.1: 181k → the
    verify set) before paying any set intersection.

    Scale shape: one explode (scan-local), one hash-agg for document
    frequencies, one window over doc_id for the occurrence rank, one
    equi-join probe⋈index on the shingle hash, a pair-keyed hash-agg
    for the positional bound, then the exact verify on survivors —
    O(n·probes) with no quadratic stage.  A corpus-hot shingle
    (df ~ n) inflates the index side of its join key, but hot shingles
    are by construction never chosen as probes for any doc that has a
    rarer alternative; residual skew lands in AQE's skew-join split.
    The DuckDB oracle replays the identical plan, so losslessness is
    cross-checked: any pruned true pair would hash-mismatch the verify
    output (and tests pin equality against the unfiltered brute
    force)."""
    from pyspark.sql.window import Window

    s = _shingled(spark, sf_dir)
    occ = s.select("doc_id", "n_sh", F.explode("sh").alias("h"))
    freq = occ.groupBy("h").agg(F.count("*").alias("df"))
    # every occurrence ranked within its doc (rarest first, hash as
    # total tie-break); probe count = n - ⌈τ·n⌉ + 1, integer-exact:
    # ⌈4n/5⌉ = (4n+4) DIV 5
    win = Window.partitionBy("doc_id").orderBy("df", "h")
    # persisted: pos feeds BOTH the probe side (filtered prefix) and
    # the index side of the candidate join — without it the explode +
    # document-frequency agg + rank window execute once per branch
    pos = track_cache(
        occ.join(freq, "h")
        .withColumn("rn", F.row_number().over(win))
        .select("doc_id", "n_sh", "h", "rn")
    )
    probes = pos.filter(F.col("rn") <= F.expr(
        f"n_sh - ((({CONTAIN_NUM} * n_sh + {CONTAIN_DEN - 1})"
        f" DIV {CONTAIN_DEN})) + 1"))
    p, x = probes.alias("p"), pos.alias("x")
    hits = (
        p.join(x, "h")
        .filter(F.col("p.doc_id") != F.col("x.doc_id"))
        .select(
            F.least("p.doc_id", "x.doc_id").alias("doc_id_a"),
            F.greatest("p.doc_id", "x.doc_id").alias("doc_id_b"),
            (F.lit(1) + F.least(
                F.col("p.n_sh") - F.col("p.rn"),
                F.col("x.n_sh") - F.col("x.rn"))).alias("bound"),
            F.least("p.n_sh", "x.n_sh").alias("m"),
        )
    )
    cand = (
        hits.groupBy("doc_id_a", "doc_id_b")
        .agg(F.max("bound").alias("ub"), F.max("m").alias("m"))
        .filter(F.col("ub") >= F.expr(
            f"({CONTAIN_NUM} * m + {CONTAIN_DEN - 1}) DIV {CONTAIN_DEN}"))
        .select("doc_id_a", "doc_id_b")
    )
    cont = K.containment("sa.sh", "sb.sh", "sa.n_sh", "sb.n_sh", SPARK)
    sh = s.select("doc_id", "sh", "n_sh")
    return (
        cand.join(sh.alias("sa"), cand["doc_id_a"] == F.col("sa.doc_id"))
        .join(sh.alias("sb"), cand["doc_id_b"] == F.col("sb.doc_id"))
        .select("doc_id_a", "doc_id_b", F.expr(cont).alias("containment"))
        .filter(F.col("containment") >= CONTAIN_TAU)
    )


def containment_pairs_oracle() -> str:
    cont = K.containment("sa.sh", "sb.sh", "sa.n_sh", "sb.n_sh", DUCK)
    return f"""
        with {_SHINGLED_CTE_DUCK},
        occ as (select doc_id, n_sh, unnest(sh) as h from sized),
        freq as (select h, count(*) as df from occ group by h),
        pos as (
            select o.doc_id, o.n_sh, o.h,
                   row_number() over (partition by o.doc_id
                                      order by f.df, o.h) as rn
            from occ o join freq f using (h)
        ),
        probes as (
            select * from pos
            where rn <= n_sh
                        - (({CONTAIN_NUM} * n_sh + {CONTAIN_DEN - 1})
                           // {CONTAIN_DEN}) + 1
        ),
        hits as (
            select least(p.doc_id, x.doc_id) as doc_id_a,
                   greatest(p.doc_id, x.doc_id) as doc_id_b,
                   1 + least(p.n_sh - p.rn, x.n_sh - x.rn) as bound,
                   least(p.n_sh, x.n_sh) as m
            from probes p join pos x using (h)
            where p.doc_id <> x.doc_id
        ),
        cand as (
            select doc_id_a, doc_id_b
            from hits
            group by doc_id_a, doc_id_b
            having max(bound) >= ({CONTAIN_NUM} * max(m)
                                  + {CONTAIN_DEN - 1}) // {CONTAIN_DEN}
        )
        select cand.doc_id_a, cand.doc_id_b, {cont} as containment
        from cand
        join sized sa on cand.doc_id_a = sa.doc_id
        join sized sb on cand.doc_id_b = sb.doc_id
        where {cont} >= {CONTAIN_NUM} / {CONTAIN_DEN}
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def explode_bands(frame: DataFrame, carry: list[str],
                  keys: list | None = None) -> DataFrame:
    """(carry..., band_keys, band_idx, band_key) — one row per (row,
    LSH band).  ``keys`` holds one key Column per band; the default is
    the MinHash banding of a signature frame with mh0..mh{N-1} columns:
    one bigint ``xxhash64`` of each band's ``LSH_ROWS`` minhashes.
    Equal tuples always hash equal, so no candidate is lost, and a
    64-bit collision only adds one for the exact jaccard verify; the
    key formats no text, and band rows are ~3× narrower than with
    ``concat_ws`` string keys.  The row's whole
    ``band_keys`` array rides on every band row, so a band join can
    tell a pair's FIRST colliding band from the joined row alone
    (:func:`band_join`).  posexplode, not a union of per-band selects,
    so the upstream frame executes ONCE: a union re-runs every
    non-persisted parent branch per band.  The outer form emits the
    same rows (the key array is never empty) without the inferred
    ``size(band_keys) > 0`` filter that would build each array twice."""
    if keys is None:
        keys = [
            F.xxhash64(*[
                f"mh{j}" for j in range(bi * LSH_ROWS, (bi + 1) * LSH_ROWS)
            ])
            for bi in range(LSH_BANDS)
        ]
    return (
        frame.select(*carry, F.array(*keys).alias("band_keys"))
        .select(*carry, "band_keys",
                F.posexplode_outer("band_keys")
                .alias("band_idx", "band_key"))
    )


def band_join(a: DataFrame, b: DataFrame, self_join: bool,
              n_bands: int = LSH_BANDS, id_col: str = "doc_id") -> DataFrame:
    """THE banded-LSH candidate rule, shared by MinHash, SimHash, SRP
    and media phash: equi-join :func:`explode_bands` rows on
    (band_idx, band_key) and keep each pair on its FIRST colliding band
    only, so the result holds exactly one row per candidate pair (ids
    are unique) — no ``distinct`` shuffle, no per-pair re-hash, no
    state.  The first colliding band is read off the carried
    ``band_keys`` arrays (``n_bands`` per-band compares); ``self_join``
    adds ``a.<id_col> < b.<id_col>``.  Columns stay reachable as
    ``a.*`` / ``b.*``.

    Both sides must carry the same ``band_key`` type: a sketch table
    written with string MinHash keys against bigint band rows would
    fail at run time under ANSI and match nothing without it, so the
    mismatch raises ``ValueError`` before any job runs."""
    ka, kb = (f.schema["band_key"].dataType for f in (a, b))
    if ka != kb:
        raise ValueError(
            f"band_key types differ: {ka.simpleString()} (a) vs "
            f"{kb.simpleString()} (b); rewrite the sketch table with "
            "banded_signatures")
    first = F.array_position(F.array(*[
        F.col("a.band_keys")[i] == F.col("b.band_keys")[i]
        for i in range(n_bands)
    ]), True) - 1
    cand = (
        a.alias("a").join(b.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("band_idx") == first)
    )
    if self_join:
        cand = cand.filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return cand


def _verified(cand: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Exact jaccard ≥ τ on the ``a.sh`` / ``b.sh`` sets a band join
    carried: (id_a, id_b, jacc)."""
    jac = K.jaccard("a.sh", "b.sh", "a.n_sh", "b.n_sh", SPARK)
    return (
        cand.select(
            F.col("a.doc_id").alias(id_a),
            F.col("b.doc_id").alias(id_b),
            F.expr(jac).alias("jacc"),
        )
        .filter(F.col("jacc") >= JACCARD_TAU)
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → banded LSH candidate join → exact jaccard
    verify ≥ τ.

    Signatures come from the vectorized kernel (one Arrow map over the
    scan), persisted because the frame feeds both band-join sides AND
    both verify joins.  The band rows are slim — only int64 keys cross
    the (band_idx, band_key) equi-join — so candidate generation is
    O(n·bands), keyed by a near-uniform hash of each band's 4
    minhashes, with no O(n²) stage anywhere.

    The verify builds on the CANDIDATE side: the candidate pairs are
    broadcast and the persisted shingle frame streams past them once
    per pair side (``sh`` of side a, then of side b).  Left to AQE, the
    cached frame's exact size made IT the broadcast side, so every task
    deserialized the whole corpus's shingle sets — a serial cost of
    corpus size.  The hint assumes candidates ≪ corpus (about the
    near-duplicate rate × n)."""
    from ..functions.sigkernel import signature_frame

    s = track_cache(signature_frame(
        read_documents(spark, sf_dir), SHINGLE_W, minhash=True))
    bands = explode_bands(s, ["doc_id"])
    cand = band_join(bands, bands, True).select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
    )
    sh = s.select("doc_id", "sh", "n_sh")
    side_a = F.broadcast(cand).join(
        sh.alias("sa"), F.col("doc_id_a") == F.col("sa.doc_id")
    ).select("doc_id_a", "doc_id_b",
             F.col("sa.sh").alias("sh_a"), F.col("sa.n_sh").alias("n_a"))
    jac = K.jaccard("sh_a", "sb.sh", "n_a", "sb.n_sh", SPARK)
    return (
        F.broadcast(side_a)
        .join(sh.alias("sb"), F.col("doc_id_b") == F.col("sb.doc_id"))
        .select("doc_id_a", "doc_id_b", F.expr(jac).alias("jacc"))
        .filter(F.col("jacc") >= JACCARD_TAU)
    )


def _lsh_pairs_ctes_duck(tag: str = "0",
                         pair: str = "a.doc_id < b.doc_id") -> str:
    """DuckDB CTE chain of the verified MinHash-LSH pair graph — the
    oracle twin of banded_signatures + band_join + the jaccard verify,
    shared by every MinHash oracle.  ``tag`` is a per-doc SQL
    expression over ``sized`` (the ingest batch a doc belongs to) and
    ``pair`` the candidate predicate over band rows ``a``, ``b``.
    Emits ``verified(doc_id_a, doc_id_b, tag_a, jacc)``; the oracle
    keeps the plain ``select distinct`` candidate form and the exact
    ``concat_ws`` string band key as reference.  Spark hashes the same
    minhash tuple to an int64 key (:func:`explode_bands`): equal tuples
    collide in both, and a 64-bit collision only Spark sees merely adds
    a candidate for the same jaccard verify to judge."""
    mh_cols = ", ".join(
        f"{K.minhash('sh', j, DUCK)} as mh{j}" for j in range(N_MINHASH)
    )
    band_rows = " union all ".join(
        "select doc_id, tag, {bi} as band_idx,"
        " concat_ws(',', {cols}) as band_key from sig".format(
            bi=bi,
            cols=", ".join(
                f"mh{j}" for j in range(bi * LSH_ROWS, (bi + 1) * LSH_ROWS)
            ),
        )
        for bi in range(LSH_BANDS)
    )
    jac = K.jaccard("sa.sh", "sb.sh", "sa.n_sh", "sb.n_sh", DUCK)
    return f"""
        sig as (select doc_id, sh, n_sh, {tag} as tag, {mh_cols} from sized),
        bands as ({band_rows}),
        cand as (
            select distinct a.doc_id as doc_id_a, b.doc_id as doc_id_b,
                   a.tag as tag_a
            from bands a join bands b
              on a.band_idx = b.band_idx and a.band_key = b.band_key
            where ({pair})
        ),
        verified as (
            select cand.doc_id_a, cand.doc_id_b, cand.tag_a, {jac} as jacc
            from cand
            join sized sa on cand.doc_id_a = sa.doc_id
            join sized sb on cand.doc_id_b = sb.doc_id
            where {jac} >= {JACCARD_TAU}
        )
    """


def minhash_lsh_pairs_oracle() -> str:
    return f"""
        with {_SHINGLED_CTE_DUCK}, {_lsh_pairs_ctes_duck()}
        select doc_id_a, doc_id_b, jacc from verified
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit simhash over the shingle-hash set, computed
    in-kernel (functions/sigkernel.py: the per-bit ±1 votes are one
    numpy bit-matrix ``reduceat`` inside the same Arrow map that hashes
    the shingles) — a NARROW plan with zero shuffle, where the previous
    explode + 32-conditional-sum hash aggregate shuffled every shingle
    hash on doc_id. Values match the fold-based DuckDB oracle
    bit-for-bit (pinned in tests/test_sigkernel.py)."""
    from ..functions.sigkernel import signature_frame

    return signature_frame(
        read_documents(spark, sf_dir), SHINGLE_W, minhash=False, simhash=True
    ).select("doc_id", "simhash")


def simhash_fingerprints_oracle() -> str:
    return f"""
        with {_SHINGLED_CTE_DUCK}
        select doc_id, {K.simhash('sh', DUCK)} as simhash from sized
    """


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ 3, via 4×8-bit banded join.

    Pigeonhole: ≤ 3 differing bits cannot touch all 4 bands, so the banded
    equi-join is recall-complete for the threshold — the scalable version
    of the quadratic hamming scan, on the MinHash-LSH candidate rule
    (:func:`band_join`: one row per pair, no ``distinct``)."""
    # persisted: fp feeds BOTH sides of the band self-join — without it
    # the signature kernel runs twice per doc (the same reason
    # minhash_lsh_pairs persists its signature frame).
    # track_cache registers it for harness-side release (no leak in a
    # long-lived session).
    fp = track_cache(simhash_fingerprints(spark, sf_dir))
    bands = explode_bands(fp, ["doc_id", "simhash"], [
        F.expr(f"(simhash DIV {1 << (8 * bi)}) % 256")
        for bi in range(SIMHASH_BANDS)
    ])
    ham = K.hamming("a.simhash", "b.simhash", SPARK)
    return (
        band_join(bands, bands, True, SIMHASH_BANDS)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            # bigint on BOTH engines: Spark bit_count is int32, DuckDB's
            # TINYINT — an aligned declared type is part of the contract
            F.expr(ham).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def simhash_pairs_oracle() -> str:
    band_rows = " union all ".join(
        f"select doc_id, simhash, {bi} as band_idx,"
        f" ((simhash // {1 << (8 * bi)}) % 256) as band_key from fp"
        for bi in range(SIMHASH_BANDS)
    )
    ham = K.hamming("a.simhash", "b.simhash", DUCK)
    return f"""
        with {_SHINGLED_CTE_DUCK},
        fp as (select doc_id, {K.simhash('sh', DUCK)} as simhash from sized),
        bands as ({band_rows})
        select distinct a.doc_id as doc_id_a, b.doc_id as doc_id_b,
               cast({ham} as bigint) as hamming
        from bands a join bands b
          on a.band_idx = b.band_idx and a.band_key = b.band_key
         and a.doc_id < b.doc_id
        where {ham} <= {SIMHASH_MAX_HAMMING}
    """


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine ≥ τ on float64-cast vectors.

    All-pairs here (oracle-checkable); the scale path is the IVF-bucketed
    join in operators/similarity.py (same cosine expression)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.expr(K.as_double_array("embedding", SPARK)).alias("v")
    )
    cos = K.cosine("a.v", "b.v", SPARK)
    return (
        emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            F.expr(cos).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_TAU)
    )


def embedding_neardup_pairs_oracle() -> str:
    cos = K.cosine("a.v", "b.v", DUCK)
    return f"""
        with e as (
            select vec_id, {K.as_double_array('embedding', DUCK)} as v
            from embeddings
        )
        select a.vec_id as vec_id_a, b.vec_id as vec_id_b, {cos} as cos
        from e a join e b on a.vec_id < b.vec_id
        where {cos} >= {COSINE_TAU}
    """


# ---------------------------------------------------------------------------
# incremental dedup (new ingest batch vs existing corpus)
# ---------------------------------------------------------------------------

#: synthetic batch split for the test tables: every 10th doc is "new"
INCR_BATCH_MOD = 10


def incremental_pairs_against_sketch(new_docs: DataFrame,
                                     sketch: DataFrame) -> DataFrame:
    """Ingest-time dedup core: near-dup pairs (new_id, corpus_id, jacc)
    between a NEW batch (raw ``doc_id, text`` rows) and a corpus SKETCH
    (:func:`banded_signatures` rows — a :func:`write_sketch_table` scan
    or an in-plan frame).

    The corpus side is ONLY a scan of the sketch: no shingle or minhash
    expression touches it (plan-asserted in tests/test_plan_shapes.py)
    — the signatures were computed once at ingest.  Per-batch cost is
    O(batch·bands) hashing on the new side plus one band equi-join; the
    carried shingle sets make the jaccard verify join-local.  The
    first-colliding-band rule (:func:`band_join`) emits each pair once
    and keeps no state."""
    return _verified(
        band_join(banded_signatures(new_docs), sketch, False),
        "new_id", "corpus_id")


def incremental_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: near-dup pairs between a NEW batch and the
    existing corpus — the filter an ingest pipeline runs before
    appending to a 10^12-doc table.

    The corpus side reads the MATERIALIZED bucketed sketch table
    (written once per session by :func:`ensure_sketch_table`), so each
    ingest pays only its own batch's hashing — never a corpus re-hash.
    The test split is synthetic (doc_id % 10 == 0 is "new"); the split
    filters land on the sketch scan / documents scan respectively."""
    table = ensure_sketch_table(spark, sf_dir)
    sketch = spark.table(table).filter(
        F.col("doc_id") % INCR_BATCH_MOD != 0)
    new_docs = read_documents(spark, sf_dir).filter(
        F.col("doc_id") % INCR_BATCH_MOD == 0)
    return incremental_pairs_against_sketch(new_docs, sketch)


def incremental_dedup_pairs_oracle() -> str:
    lsh = _lsh_pairs_ctes_duck(
        f"(doc_id % {INCR_BATCH_MOD} = 0)", "a.tag and not b.tag")
    return f"""
        with {_SHINGLED_CTE_DUCK}, {lsh}
        select doc_id_a as new_id, doc_id_b as corpus_id, jacc from verified
    """


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over the near-dup pair graph)
# ---------------------------------------------------------------------------

def star_contraction_labels(sym: DataFrame, max_rounds: int = 32,
                            rounds_out: list | None = None) -> DataFrame:
    """Connected-component labels by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — the published shared-nothing CC algorithm; public
    knowledge, no reference counterpart: the reference never clusters).

    ``sym`` is the symmetric edge frame (src, dst) without self-loops.
    Returns (doc_id, label) where label = the component's minimum
    doc_id — the same labeling min-label propagation produced, but in
    O(log² n) rounds instead of O(diameter): a 10^6-long chain
    converges in ~a dozen rounds, so no rounds-cap caveat ("hitting the
    cap leaves a finer partition") is needed.

    Each round is two contraction phases, each one hash-agg shuffle +
    one equi-join shuffle keyed on node id; per-round
    ``localCheckpoint`` keeps lineage flat.  Both phases strictly
    preserve component connectivity, so the fixed point is one star per
    component rooted at its minimum node.

    If ``rounds_out`` is given, the number of rounds run is appended —
    the round-count test uses it to pin the logarithmic behavior.
    """
    # canonical directed form: every undirected edge once, as (hi, lo)
    edges = (
        sym.filter(F.col("src") > F.col("dst"))
        .select("src", "dst").distinct().localCheckpoint()
    )
    # node set from the CHECKPOINTED edges, not from sym: sym is the
    # caller's lazy (and expensive — full LSH pipeline) plan, and since
    # it is symmetric without self-loops every node survives the
    # canonicalization above.  Reading sym here would re-execute the
    # whole pair plan a second time at the final labels join.
    first = edges.select(F.col("src").alias("doc_id"))
    nodes = first.union(
        edges.select(F.col("dst").alias("doc_id"))
    ).distinct()
    prev: tuple | None = None
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        # -- large-star: every node v larger than a neighbor u is
        # re-pointed at m = min(Γ(u) ∪ {u}); each undirected edge is
        # emitted exactly once, from its smaller endpoint's group
        und = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = und.groupBy("src").agg(F.min("dst").alias("mv"))
        edges = (
            und.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("src"), F.col("mv")).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # -- small-star: edges now all point big→small; each node's
        # smaller neighbors (and the node itself) attach to their min
        mins2 = edges.groupBy("src").agg(F.min("dst").alias("mv"))
        edges = (
            edges.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("mv").alias("dst"))
            .union(mins2.select("src", F.col("mv").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # fixed point = the star forest reproduces itself: compare the
        # edge set by (count, order-independent hash) in one agg pass
        sig = edges.agg(
            F.count("*").alias("n"),
            # xor-fold, not sum: order-independent and cannot overflow
            # under ANSI mode
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"),
                       F.lit(0)).alias("chk"),
        ).collect()[0]
        cur = (sig["n"], sig["chk"])
        if cur == prev:
            break
        prev = cur
    if rounds_out is not None:
        rounds_out.append(rounds)
    # at the fixed point each non-root points at its component root;
    # roots (and isolated nodes, if any edge-less nodes were passed)
    # label themselves
    return (
        nodes.join(edges.withColumnRenamed("src", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("dst", "doc_id").alias("label"))
    )


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels (doc_id, label) over the jaccard pair
    graph via :func:`star_contraction_labels`.

    Edge source is ``minhash_lsh_pairs`` — the O(n·bands) banded
    candidate join with exact-jaccard verify — NOT the all-pairs theta
    join (``ngram_jaccard_pairs``), which is the small-scale exactness
    oracle only. Both apply the identical jaccard ≥ τ verify, so at any
    scale where LSH recall is complete the labelings coincide; at 10^12
    docs only the LSH plan survives."""
    edges = minhash_lsh_pairs(spark, sf_dir).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return star_contraction_labels(sym)


def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: one row per duplicate component (id, size,
    extrema)."""
    return _cc_labels(spark, sf_dir).groupBy(
        F.col("label").alias("cluster_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step: the surviving document set after near-dedup —
    every unclustered doc plus the canonical (min-doc_id) member of each
    duplicate cluster. At scale this is the filter a training-data
    pipeline runs before tokenization: a left-anti join of the corpus
    against the non-canonical members. No forced broadcast — on a
    near-dup-heavy corpus the loser set is a large fraction of the
    corpus, so AQE decides broadcast-vs-shuffle by measured size."""
    labels = _cc_labels(spark, sf_dir)
    losers = labels.filter(F.col("doc_id") != F.col("label")).select("doc_id")
    docs = read_documents(spark, sf_dir).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti")


def _cc_labels_ctes_duck() -> str:
    """DuckDB ``with`` clause ending in ``lab(doc_id, cluster_id)``:
    min-label reachability over the verified LSH pair graph — the
    oracle of :func:`_cc_labels`."""
    return f"""
        with recursive {_SHINGLED_CTE_DUCK},
        {_lsh_pairs_ctes_duck()},
        edges as (
            select doc_id_a as src, doc_id_b as dst from verified
            union all
            select doc_id_b, doc_id_a from verified
        ),
        nodes as (select distinct src as doc_id from edges),
        reach(doc_id, label) as (
            select doc_id, doc_id from nodes
            union
            select e.src, r.label from edges e join reach r on e.dst = r.doc_id
        ),
        lab as (select doc_id, min(label) as cluster_id from reach group by doc_id)
    """


def dedup_keep_canonical_oracle() -> str:
    return f"""
        {_cc_labels_ctes_duck()}
        select d.doc_id from documents d
        left join lab on d.doc_id = lab.doc_id
        where lab.doc_id is null or lab.cluster_id = d.doc_id
    """


def duplicate_clusters_oracle() -> str:
    return f"""
        {_cc_labels_ctes_duck()}
        select cluster_id, cast(count(*) as bigint) as n_docs,
               min(doc_id) as min_doc, max(doc_id) as max_doc
        from lab group by cluster_id
    """


# ---------------------------------------------------------------------------
# bucketed sketch materialization: the candidate join without its shuffle
# ---------------------------------------------------------------------------


def banded_signatures(docs: DataFrame) -> DataFrame:
    """The ingest-time sketch rows for a ``doc_id, text`` frame: one row
    per (doc, LSH band) carrying the distinct shingle-hash set, its
    size, the doc's band-key array and the band key — the SINGLE
    definition of the MinHash banding that every consumer (bucketed
    sketch write, incremental batch join) shares, so a sketch written
    at ingest time joins bit-identically against signatures computed
    in-plan.

    Signatures come from the vectorized Arrow kernel and the bands from
    one posexplode — the whole frame is a single narrow pass over the
    input."""
    from ..functions.sigkernel import signature_frame

    sig = signature_frame(docs, SHINGLE_W, minhash=True)
    return explode_bands(sig, ["doc_id", "sh", "n_sh"])


def write_sketch_table(docs: DataFrame, table: str, path: str) -> None:
    """Materialize the banded MinHash sketch (:func:`banded_signatures`
    rows) as a BUCKETED, sorted table: ``bucketBy(SKETCH_BUCKETS,
    band_idx, band_key)`` (8 buckets) co-locates every band bucket, so
    the LSH candidate self-join — the single biggest shuffle in
    near-dedup at 10^12 docs — runs with NO Exchange at all (Spark's
    bucketed SortMergeJoin reads both sides pre-partitioned and
    pre-sorted, and the first-colliding-band rule leaves no pair
    duplicates to collapse).
    Signatures are computed ONCE at ingest; every later dedup pass
    (self-join via :func:`band_pairs`, incremental batch join via
    :func:`incremental_pairs_against_sketch`) reads this table instead
    of re-hashing the corpus.

    Rows carry the shingle set alongside the band key (2 bands → 2×
    storage) so the jaccard verify needs no extra join back to the
    corpus — the post-candidate work is scan-local."""
    (
        banded_signatures(docs).write.format("parquet")
        .bucketBy(SKETCH_BUCKETS, "band_idx", "band_key")
        .sortBy("band_idx", "band_key")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def append_to_sketch_table(new_docs: DataFrame, table: str) -> None:
    """The accept step of incremental ingest: after a new batch passes
    :func:`incremental_pairs_against_sketch` (or its duplicates are
    resolved), append the batch's banded signatures to the sketch table
    so the NEXT ingest sees these docs as corpus.
    This completes the sketch lifecycle: write once at bootstrap,
    append per accepted batch, never re-hash the corpus.

    The append declares the same bucket spec as the bootstrap write
    (Spark refuses mismatched bucketing on an existing table, so drift
    is an error, not silent corruption). Each append adds one file per
    touched bucket; the bucketed self-join stays Exchange-free — Spark
    reads multi-file buckets co-located (it may re-sort within a
    partition, never reshuffle). Periodic compaction of many-append
    tables is ordinary parquet file management."""
    (
        banded_signatures(new_docs).write.format("parquet")
        .bucketBy(SKETCH_BUCKETS, "band_idx", "band_key")
        .sortBy("band_idx", "band_key")
        .mode("append")
        .saveAsTable(table)
    )


#: session-memoized sketch tables: (app id, abs sf_dir) -> table name
_SKETCH_TABLES: dict[tuple[str, str], str] = {}


def ensure_sketch_table(spark: SparkSession, sf_dir: str) -> str:
    """Write-once-per-session sketch materialization for a test-scale
    ``sf_dir`` — the harness-facing stand-in for the ingest-time write
    a production table gets when documents are appended.  Registered
    queries (dedup_sketch_pairs, dedup_incremental) call this so one
    check_oracle / bench session hashes the corpus exactly once, then
    every dedup pass reads the bucketed table.

    The table is external, at ``<tempdir>/pdfx_sketch_<tag>``, one per
    corpus path: its files outlive the session on purpose, as an
    ingest-time sketch outlives its writer (``DROP TABLE`` keeps them),
    and the next session's first call overwrites them in place."""
    abs_dir = os.path.abspath(sf_dir)
    key = (spark.sparkContext.applicationId, abs_dir)
    got = _SKETCH_TABLES.get(key)
    if got is not None and spark.catalog.tableExists(got):
        return got
    # tag carries a digest of the FULL path: two corpora that share a
    # basename (/a/corpus vs /b/corpus) must not collide on one table
    # name / warehouse path, or the second overwrite silently serves
    # the wrong corpus' signatures to the first corpus' memo entry
    digest = hashlib.sha1(abs_dir.encode()).hexdigest()[:10]
    tag = re.sub(r"\W+", "_", os.path.basename(abs_dir)) + "_" + digest
    table = f"pdfx_sketch_{tag}"
    path = os.path.join(tempfile.gettempdir(), f"pdfx_sketch_{tag}")
    write_sketch_table(read_documents(spark, sf_dir), table, path)
    _SKETCH_TABLES[key] = table
    return table


#: two-batch ingest split for the registered lifecycle query:
#: doc_id % 10 == 5 arrives first (batch 1), % 10 == 0 second (batch 2);
#: everything else is the bootstrap corpus
INGEST_B1, INGEST_B2 = 5, 0


def _ingest_table(spark: SparkSession, sf_dir: str) -> str:
    """Scratch sketch table of :func:`ingest_lifecycle`, keyed by the
    corpus path AND the application id, so concurrent applications on
    one corpus never share (and race on) a table."""
    digest = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    return f"pdfx_ingest_{digest}_{app}"


def ingest_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental-ingest lifecycle as ONE registered,
    oracle-pinned query: bootstrap the bucketed sketch from the standing
    corpus, probe ingest batch 1 against it, APPEND batch 1's
    signatures, then probe batch 2 against the grown sketch — so a
    batch-2 document duplicating a batch-1 document is caught even
    though neither was in the bootstrap corpus.  This is the loop a
    production ingest runs forever: the corpus is hashed exactly once,
    each batch pays only its own hashing.

    Emits (new_id, corpus_id, jacc, phase): phase 'b1' rows matched the
    bootstrap corpus, 'b2' rows matched bootstrap ∪ batch 1.  Both
    probes are materialized (localCheckpoint): batch 1 BEFORE the
    append — a lazy plan would re-list the table's files after the
    append and see its own batch as corpus — and batch 2 before the
    scratch table is dropped on return."""
    docs = read_documents(spark, sf_dir)
    mod = F.col("doc_id") % INCR_BATCH_MOD
    old = docs.filter((mod != INGEST_B1) & (mod != INGEST_B2))
    b1 = docs.filter(mod == INGEST_B1)
    b2 = docs.filter(mod == INGEST_B2)

    table = _ingest_table(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(), table)
    # overwrite-then-append keeps repeated invocations deterministic:
    # every call rebuilds the bootstrap state before its single append
    write_sketch_table(old, table, path)
    try:
        p1 = incremental_pairs_against_sketch(
            b1, spark.table(table)
        ).withColumn("phase", F.lit("b1")).localCheckpoint()
        append_to_sketch_table(b1, table)
        p2 = incremental_pairs_against_sketch(
            b2, spark.table(table)
        ).withColumn("phase", F.lit("b2")).localCheckpoint()
    finally:
        # an external (path) table: DROP leaves its files behind
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)
    return p1.unionByName(p2)


def ingest_lifecycle_oracle() -> str:
    lsh = _lsh_pairs_ctes_duck(
        f"case when doc_id % {INCR_BATCH_MOD} = {INGEST_B1} then 1"
        f" when doc_id % {INCR_BATCH_MOD} = {INGEST_B2} then 2 else 0 end",
        "(a.tag = 1 and b.tag = 0) or (a.tag = 2 and b.tag in (0, 1))")
    return f"""
        with {_SHINGLED_CTE_DUCK}, {lsh}
        select doc_id_a as new_id, doc_id_b as corpus_id, jacc,
               case when tag_a = 1 then 'b1' else 'b2' end as phase
        from verified
    """


def sketch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of the sketch-table self-join: materialize the
    bucketed sketch (once per session), then the zero-Exchange banded
    candidate join + jaccard verify.  Produces exactly the
    minhash_lsh_pairs row set — the oracle reuses that SQL — but with
    the corpus hashed once at write time instead of per query."""
    return band_pairs(spark.table(ensure_sketch_table(spark, sf_dir)))


def band_pairs(bands: DataFrame) -> DataFrame:
    """Near-dup pairs (doc_id_a, doc_id_b, jacc) within one set of
    :func:`banded_signatures` rows: the band self-join, then the exact
    jaccard verify on the carried shingle sets.  Over a bucketed sketch
    table the join runs bucket-to-bucket — zero Exchange in the whole
    plan (asserted by tests/test_plan_shapes.py)."""
    return _verified(band_join(bands, bands, True), "doc_id_a", "doc_id_b")
