"""Distributed BPE merge training (byte-pair encoding, Sennrich/Haddow/
Birch 2016 — the public subword-vocabulary algorithm every modern
tokenizer descends from), as a registered, DuckDB-oracle-checked query.

A training-data pipeline that counts tokens wants the tokenizer's merge
table derivable from the corpus itself; this operator computes the
first ``BPE_MERGES`` greedy merges:

  1. ONE corpus-scale pass: whitespace words → (word, count) vocab —
     the only stage that touches 100 TB; everything after runs on the
     distinct-word table (a few million rows at any corpus size).
  2. k iterations over the vocab: weighted adjacent-symbol-pair counts
     (one small shuffle), argmax with a deterministic tie-break
     (``TakeOrderedAndProject`` — a 1-row result), then the merge
     applied to every word via a broadcast of that single row. No
     driver-side collect anywhere; the loop builds one lazy plan with
     each iteration's vocab frame persisted (it feeds both the pair
     count and the merge rewrite).

Symbol sequences ride in a SPACED STRING: word ``abc`` becomes
``' a  b  c '`` (every symbol wrapped in single spaces, so adjacent
symbols are separated by a double space). The pair (a, b) then appears
as the substring ``' a  b '``, and ``replace(s, ' a  b ', ' ab ')``
performs exactly BPE's left-to-right non-overlapping merge — the
doubled separators donate one space to each side, so consecutive
disjoint occurrences (``x ababab``) all merge in one pass while
overlapping ones (``aaa`` under merge a+a) correctly merge
left-to-right. Both engines' ``replace`` is left-to-right
non-overlapping, which makes the construction bit-identical across
Spark and DuckDB with zero UDFs.

The reference engine has no tokenizer-training surface; this module is
part of the training-data-pipeline extension from the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import read_documents, track_cache
from . import sqlkit as K
from .sqlkit import DUCK, SPARK

#: merge steps for the registered query (a production run passes its
#: own budget; each step is one vocab-table shuffle)
BPE_MERGES = 8


def sym_encode(word: str, d: str) -> str:
    """word → spaced symbol string: each codepoint wrapped in single
    spaces (``'abc'`` → ``' a  b  c '``)."""
    if d == SPARK:
        return f"regexp_replace({word}, '(.)', ' $1 ')"
    return f"regexp_replace({word}, '(.)', ' \\1 ', 'g')"


def syms(s: str, d: str) -> str:
    """spaced string → symbol array (trim, then split on the double
    separator)."""
    if d == SPARK:
        return f"split(trim({s}), '  ')"
    return f"string_split(trim({s}), '  ')"


def pair_idx(arr: str, d: str) -> str:
    """[1 .. len-1], EMPTY for single-symbol words. Spark's sequence()
    counts DOWN when stop < start, so the guard is load-bearing."""
    if d == SPARK:
        return (f"case when size({arr}) >= 2 then"
                f" sequence(1, size({arr}) - 1)"
                f" else array() end")
    return f"range(1, len({arr}))"


def pair_at(arr: str, j: str, d: str) -> str:
    """'sym_j sym_j+1' — single-space join is unambiguous because
    symbols never contain spaces."""
    return (f"concat({K.at(arr, j, d)}, ' ', "
            f"{K.at(arr, f'({j}) + 1', d)})")


def pair_list(s: str, d: str) -> str:
    a = syms(s, d)
    return K.xform(pair_idx(a, d), f"j -> {pair_at(a, 'j', d)}", d)


def merge_expr(s: str, pa: str, d: str) -> str:
    """Apply merge ``pa`` ('a b') to spaced string ``s``: the adjacency
    pattern ' a  b ' collapses to ' ab '."""
    pat = f"concat(' ', replace({pa}, ' ', '  '), ' ')"
    rep = f"concat(' ', replace({pa}, ' ', ''), ' ')"
    return f"replace({s}, {pat}, {rep})"


def _bpe_chain(spark: SparkSession, sf_dir: str,
               n_merges: int) -> tuple[DataFrame, DataFrame]:
    """(merges, segmented_vocab): the k greedy merges (step, pa, cnt)
    and the vocab table with all k merges applied — the trained
    segmentation every apply-side consumer reads."""
    toks = K.tokens("text", SPARK)
    vocab = (
        read_documents(spark, sf_dir)
        .select(F.explode(F.expr(toks)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w = vocab.select(
        "word", "n", F.expr(sym_encode("word", SPARK)).alias("s"))
    out = None
    for step in range(1, n_merges + 1):
        # persisted: w feeds the pair count AND the merge rewrite —
        # without it each iteration's lineage re-executes twice per
        # level (2^k recompute by the last step)
        w = track_cache(w)
        pairs = w.select(
            "n", F.explode(F.expr(pair_list("s", SPARK))).alias("pa"))
        cnt = pairs.groupBy("pa").agg(
            F.sum("n").cast("bigint").alias("cnt"))
        # localCheckpoint (eager, ONE row) is load-bearing: `best`
        # feeds both the output union and the next iteration's rewrite,
        # and without truncation the k-level union/crossJoin tree grows
        # combinatorially — Catalyst planning alone reached minutes at
        # sf0.1 (measured 52-167 s; 3.6 s with the checkpoint).  The
        # materialization itself is the natural per-merge job, same
        # O(1)-row driver cost as the CC fixed-point check.
        best = (
            cnt.orderBy(F.col("cnt").desc(), "pa").limit(1)
            .select(F.lit(step).cast("bigint").alias("step"), "pa", "cnt")
        ).localCheckpoint()
        out = best if out is None else out.unionByName(best)
        w = w.crossJoin(F.broadcast(best.select(F.col("pa").alias("_pa")))) \
            .select("word", "n",
                    F.expr(merge_expr("s", "_pa", SPARK)).alias("s"))
    return out, w


def bpe_merges(spark: SparkSession, sf_dir: str,
               n_merges: int = BPE_MERGES) -> DataFrame:
    """The first ``n_merges`` BPE merges over the corpus vocabulary:
    (step, pa, cnt) — merge rank, the merged pair ('a b'), and its
    weighted adjacency count at selection time."""
    return _bpe_chain(spark, sf_dir, n_merges)[0]


def bpe_encode_stats(spark: SparkSession, sf_dir: str,
                     n_merges: int = BPE_MERGES) -> DataFrame:
    """The APPLY step: per-document subword statistics under the
    trained merges — (doc_id, n_tok, n_subword, ratio).  The segmented
    vocab (word → symbol count after k merges) joins back to the
    exploded corpus words; at 100 TB the vocab side is the small one
    (distinct words), so the join broadcasts and the apply is
    map-side — the plan-shape a production subword tokenizer pass has.
    ``ratio`` = subwords per whitespace token, the fertility metric
    tokenizer evaluations report."""
    _, w = _bpe_chain(spark, sf_dir, n_merges)
    seg = w.select(
        "word",
        F.expr(K.asize(syms("s", SPARK), SPARK)).cast("bigint")
        .alias("n_sym"),
    )
    toks = K.tokens("text", SPARK)
    words = read_documents(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(toks)).alias("word"))
    # no forced broadcast: the segmented vocab is usually the small
    # side, but an open web vocab is unbounded — AQE decides by
    # measured size (same policy as dedup_keep_canonical's loser set)
    return (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("n_sym").cast("bigint").alias("n_subword"),
        )
        .select(
            "doc_id", "n_tok", "n_subword",
            F.expr("round(cast(n_subword as double) / n_tok, 6)")
            .alias("ratio"),
        )
    )


def _bpe_ctes(n_merges: int) -> str:
    toks = K.tokens("text", DUCK)
    ctes = [
        f"""w0 as (
            select word, cast(count(*) as bigint) as n,
                   {sym_encode('word', DUCK)} as s
            from (select unnest({toks}) as word from documents)
            group by word
        )"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} as (
            select pa, cast(sum(n) as bigint) as cnt
            from (select n, unnest({pair_list('s', DUCK)}) as pa
                  from w{i - 1})
            group by pa
        )""")
        ctes.append(f"""b{i} as (
            select cast({i} as bigint) as step, pa, cnt from p{i}
            order by cnt desc, pa limit 1
        )""")
        ctes.append(f"""w{i} as (
            select w.word, w.n, {merge_expr('w.s', 'b.pa', DUCK)} as s
            from w{i - 1} w, b{i} b
        )""")
    return ",\n".join(ctes)


def bpe_merges_oracle(n_merges: int = BPE_MERGES) -> str:
    union = " union all ".join(
        f"select step, pa, cnt from b{i}" for i in range(1, n_merges + 1))
    return "with " + _bpe_ctes(n_merges) + "\n" + union


def bpe_encode_stats_oracle(n_merges: int = BPE_MERGES) -> str:
    toks = K.tokens("text", DUCK)
    n_sym = K.asize(syms("w.s", DUCK), DUCK)
    return f"""
        with {_bpe_ctes(n_merges)},
        seg as (
            select word, cast({n_sym} as bigint) as n_sym
            from w{n_merges} w
        ),
        words as (
            select doc_id, unnest({toks}) as word from documents
        )
        select doc_id,
               cast(count(*) as bigint) as n_tok,
               cast(sum(n_sym) as bigint) as n_subword,
               round(cast(sum(n_sym) as double) / count(*), 6) as ratio
        from words join seg using (word)
        group by doc_id
    """
