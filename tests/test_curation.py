"""Semantic invariants of the curation operators — properties the
cross-engine hash check can't express (both engines could share a bug;
these pin the MEANING: packing conserves tokens, quotas are exactly
filled, splits are exactly proportioned, redaction removes what the
counters counted)."""

from __future__ import annotations

import re
from collections import defaultdict

import pytest

from pdf_extract_spark.functions import curation as C
from pdf_extract_spark.functions import sqlkit as K

SF_DIR = "/root/testdata/sf0.001"


def _eval_is_member(doc_id: int) -> bool:
    """Python twin of ``curation._eval_selector``: is ``doc_id`` in the
    hash-selected eval set?"""
    return (K.polyhash_bytes(str(doc_id).encode())
            % C.CONTAM_MOD) == C.CONTAM_RESIDUE


@pytest.fixture(scope="module")
def packed(spark):
    return C.seq_pack(spark, SF_DIR).collect()


def test_seq_pack_offsets_are_contiguous(packed):
    """Within a shard (doc_id order), each document starts exactly
    where the previous one ended — the concat-and-chunk stream has no
    gaps and no overlaps."""
    by_shard = defaultdict(list)
    for r in packed:
        by_shard[r.shard].append(r)
    assert len(by_shard) == C.NSHARDS
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.seq_first == cum // C.SEQ_CAP
            assert r.off_in_seq == cum % C.SEQ_CAP
            cum += r.n_tok
            assert r.seq_last == (cum - 1) // C.SEQ_CAP


def test_seq_pack_straddles_exist_and_are_consistent(packed):
    """The packer must allow boundary-straddling documents (that is the
    point of concat-and-chunk), and a straddle spans exactly the
    sequences its token range covers."""
    straddles = [r for r in packed if r.seq_last > r.seq_first]
    assert straddles, "no document straddles a sequence boundary"
    for r in straddles:
        assert r.off_in_seq + r.n_tok > C.SEQ_CAP


def test_temperature_sample_fills_quotas_exactly(spark):
    """Each source contributes exactly min(quota, available) documents
    and quotas flatten the mixture: a source 4x another's size gets
    only ~2x the quota (sqrt scaling)."""
    rows = C.source_temperature_sample(spark, SF_DIR).collect()
    # independent per-source corpus counts: the exactness claim is
    # len(kept) == min(quota, n_s), which the operator's own rn<=quota
    # filter cannot vacuously satisfy (r4 ADVICE: the old
    # min(quota, len(rs)) form was a tautology)
    n_s = {
        r.source: r.n
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("source").count().withColumnRenamed("count", "n")
        .collect()
    }
    per_src = defaultdict(list)
    for r in rows:
        per_src[r.source].append(r)
    assert set(per_src) <= set(n_s)
    for src, rs in per_src.items():
        quota = rs[0].quota
        assert len(rs) == min(quota, n_s[src]), src
        ranks = sorted(r.sample_rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))  # lowest-hash prefix


def test_stratified_split_exact_proportions(spark):
    """Every stratum splits at exact floor boundaries: n_train =
    floor(0.8 n), n_train+n_valid = floor(0.9 n)."""
    rows = C.stratified_split(spark, SF_DIR).collect()
    per_src = defaultdict(lambda: defaultdict(int))
    for r in rows:
        per_src[r.source][r.split] += 1
    for src, counts in per_src.items():
        n = sum(counts.values())
        assert counts["train"] == (n * 8) // 10, src
        assert counts["train"] + counts["valid"] == (n * 9) // 10, src
        assert counts["test"] == n - (n * 9) // 10, src


def test_split_and_sample_are_disjoint_deterministic(spark):
    """Re-running yields byte-identical assignments (the resumability
    claim: membership is a pure function of the corpus)."""
    a = sorted((r.doc_id, r.split)
               for r in C.stratified_split(spark, SF_DIR).collect())
    b = sorted((r.doc_id, r.split)
               for r in C.stratified_split(spark, SF_DIR).collect())
    assert a == b


def test_pii_redaction_removes_every_counted_match(spark):
    """The redacted text contains zero residual matches for any
    pattern, and placeholders appear exactly as often as the counters
    say."""
    rows = C.pii_scrub(spark, SF_DIR).collect()
    assert rows
    pats = {"<EMAIL>": (C.PII_EMAIL, "n_email"),
            "<IP>": (C.PII_IPV4, "n_ipv4"),
            "<PHONE>": (C.PII_PHONE, "n_phone")}
    for r in rows:
        for tag, (pat, field) in pats.items():
            assert not re.search(pat, r.redacted), (r.doc_id, pat)
            assert r.redacted.count(tag) == getattr(r, field)


def test_pii_overlapping_matches_stay_consistent(spark, tmp_path):
    """Overlapping PII (an email whose domain is an IPv4: the r4 ADVICE
    desync case) must keep counts == placeholders: progressive counting
    sees the IPv4 only if it survives the email redaction."""
    # doc_id chosen so the synthetic augmentation adds nothing
    # (not divisible by 7 or 11)
    rows = [(13, "mail foo@1.2.3.4.net and bare 5.6.7.8 here plus text")]
    d = tmp_path / "pii"
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r for r in C.pii_scrub(spark, str(d)).collect()}
    r = out[13]
    # the email consumed its embedded IPv4; only the bare one remains
    assert r.n_email == 1 and r.n_ipv4 == 1
    assert r.redacted.count("<EMAIL>") == 1
    assert r.redacted.count("<IP>") == 1
    assert "1.2.3.4" not in r.redacted and "5.6.7.8" not in r.redacted


def test_decontaminate_flags_planted_eval_copy(spark, tmp_path):
    """A verbatim copy of an eval document must be flagged contaminated
    (hit_ratio 1.0); an unrelated document must not appear."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"create view documents as select * from"
            f" '{SF_DIR}/documents.parquet'")
    # find one eval doc and plant a copy under a fresh doc_id
    sel = C._eval_selector("doc_id", "duck")
    eval_doc = con.sql(
        f"select doc_id, text from documents where {sel} limit 1"
    ).fetchone()
    assert eval_doc is not None
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copy_id = 10_000_019  # chosen non-eval: polyhash % 19 != 3
    assert not _eval_is_member(copy_id)
    extra = spark.createDataFrame(
        [(copy_id, eval_doc[1], "xx", "planted", len(eval_doc[1]))],
        schema=src.schema)
    out = str(tmp_path / "docs")
    src.unionByName(extra).coalesce(1).write.parquet(
        f"{out}/documents.parquet")
    flagged = {r.doc_id: r for r in C.decontaminate(spark, out).collect()}
    assert copy_id in flagged
    assert flagged[copy_id].contaminated
    assert flagged[copy_id].hit_ratio == 1.0


def test_bpe_merges_classic_example(spark, tmp_path):
    """The Sennrich-paper-style vocabulary (low:5 lower:2 newest:6
    widest:3) has a hand-computable merge sequence — pins the
    algorithm (weighted pair counts, lexicographic tie-break,
    left-to-right merge) independently of the DuckDB oracle."""
    from pdf_extract_spark.functions.bpe import bpe_merges

    text = " ".join(["low"] * 5 + ["lower"] * 2
                    + ["newest"] * 6 + ["widest"] * 3)
    d = tmp_path / "bpe"
    spark.createDataFrame([(1, text)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(d / "documents.parquet"))
    rows = sorted(bpe_merges(spark, str(d), n_merges=8).collect(),
                  key=lambda r: r.step)
    got = [(r.step, r.pa, r.cnt) for r in rows]
    assert got == [
        (1, "e s", 9),
        (2, "es t", 9),
        (3, "l o", 7),
        (4, "lo w", 7),
        (5, "e w", 6),
        (6, "ew est", 6),
        (7, "n ewest", 6),
        (8, "d est", 3),
    ]


def test_exact_substring_spans_planted(spark, tmp_path):
    """Two documents sharing a verbatim 10-token passage: the operator
    must emit exactly that span in each doc (1-based inclusive token
    positions), and nothing for the unique doc."""
    from pdf_extract_spark.functions.textstats import (
        EXACT_W,
        exact_substring_spans,
    )

    shared = " ".join(f"dup{i}" for i in range(10))  # 10 tokens
    rows = [
        (1, "alpha beta gamma " + shared + " tail1 tail2"),
        (2, "x1 " + shared + " y1 y2 y3"),
        (3, "only unique tokens here nothing repeated at all kept"),
    ]
    d = tmp_path / "ess"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = {r.doc_id: (r.span_start, r.span_end, r.span_tokens, r.n_grams)
           for r in exact_substring_spans(spark, str(d)).collect()}
    # doc 1: shared at tokens 4..13; doc 2: at tokens 2..11
    assert got[1] == (4, 13, 10, 10 - EXACT_W + 1)
    assert got[2] == (2, 11, 10, 10 - EXACT_W + 1)
    assert 3 not in got


def test_remove_repeated_spans_planted(spark, tmp_path):
    """The apply step cuts exactly the planted shared passage from both
    docs and leaves the unique doc byte-identical."""
    from pdf_extract_spark.functions.textstats import (
        remove_repeated_spans,
    )

    shared = " ".join(f"dup{i}" for i in range(10))
    rows = [
        (1, "alpha beta gamma " + shared + " tail1 tail2"),
        (2, "x1 " + shared + " y1 y2 y3"),
        (3, "only unique tokens here nothing repeated at all kept"),
    ]
    d = tmp_path / "rrs"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = {r.doc_id: r for r in
           remove_repeated_spans(spark, str(d)).collect()}
    assert got[1].clean_text == "alpha beta gamma tail1 tail2"
    assert got[1].n_removed == 10 and got[1].n_tok == 15
    assert got[2].clean_text == "x1 y1 y2 y3"
    assert got[2].n_removed == 10 and got[2].n_tok == 14
    assert got[3].clean_text == rows[2][1]
    assert got[3].n_removed == 0


def test_hll_raw_branch_accuracy(spark, tmp_path):
    """With 20k distinct tokens the estimator leaves linear counting
    (all 256 registers hit) and the raw HLL estimate must land within
    the theoretical ~1.04/sqrt(m)=6.5% band (4 sigma ~ 26%; assert a
    loose 15% so the test pins correctness, not luck)."""
    from pdf_extract_spark.functions.textstats import (
        approx_distinct_tokens,
    )

    text = " ".join(f"tk{i}x{i % 7}" for i in range(20_000))
    d = tmp_path / "hll"
    spark.createDataFrame(
        [(1, text, "en", "srcA", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    r = approx_distinct_tokens(spark, str(d)).collect()[0]
    assert r.n_exact == 20_000
    assert abs(r.n_est - r.n_exact) / r.n_exact < 0.15
    assert r.rel_err < 0.15


def test_hll_registers_merge_across_splits(spark, tmp_path):
    """The 100 TB property that makes the sketch a sketch: registers
    built on two disjoint corpus halves MERGE by per-register max into
    exactly the registers of the whole corpus — so per-day/per-segment
    sketches combine without re-reading data."""
    import duckdb

    from pdf_extract_spark.functions.textstats import (
        HLL_M,
        HLL_P,
        HLL_W,
        _hll_mix,
        _hll_rho,
    )
    from pdf_extract_spark.functions import sqlkit as K

    con = duckdb.connect()
    con.sql("create view documents as select * from"
            " '/root/testdata/sf0.001/documents.parquet'")
    toks = K.tokens("text", K.DUCK)
    hv = K.polyhash("tok", K.DUCK)
    rho = _hll_rho(f"((h >> {HLL_P}) & {(1 << HLL_W) - 1})", K.DUCK)

    def regs(pred):
        rows = con.sql(f"""
            with occ as (
                select {_hll_mix(f'({hv})', K.DUCK)} as h
                from (select doc_id, unnest({toks}) as tok
                      from documents where {pred})
            )
            select h & {HLL_M - 1} as bucket, max({rho}) as rho
            from occ group by 1
        """).fetchall()
        return dict(rows)

    full = regs("true")
    h1 = regs("doc_id % 2 = 0")
    h2 = regs("doc_id % 2 = 1")
    merged = dict(h1)
    for b, r in h2.items():
        merged[b] = max(merged.get(b, 0), r)
    assert merged == full and full
