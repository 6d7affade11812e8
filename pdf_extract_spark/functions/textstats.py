"""Text-analysis functions for the training-data pipeline: token counting,
quality scoring, heuristic language ID, and document fingerprinting.

All pure Catalyst expressions over the ``documents`` table, with DuckDB
oracles from the same sqlkit fragments. These are scan-local (no shuffle at
all — one narrow projection pass), so at 100 TB they run at IO speed.

The langid heuristic is the SQL-expressible sibling of the n-gram model in
functions/langid.py (which replaces the reference's cld3 JNI boundary,
DetectLanguage.java:22): stopword-hit scoring per language with a
deterministic argmax. The fingerprint is the same rolling polynomial hash
the dedup operators shingle with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import read_documents
from . import sqlkit as K
from .sqlkit import DUCK, SPARK

#: tiny per-language stopword lists (public common-word lists); scoring is
#: hit-count per language over whitespace tokens.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ein", "mit", "ist"),
    "en": ("the", "and", "a", "of", "to", "in", "is", "that"),
    "es": ("el", "la", "los", "que", "y", "de", "un", "es"),
    "fr": ("le", "la", "les", "et", "que", "de", "un", "est"),
}
MIN_QUALITY_TOKENS = 5


def _tok_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_documents(spark, sf_dir).select(
        "doc_id", "lang", F.expr(K.tokens("text", SPARK)).alias("toks")
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword proxy
    (4-char ceil pieces per token — a deterministic stand-in for a real
    byte-pair vocab, which would be a broadcast dict at scale)."""
    t = _tok_frame(spark, sf_dir)
    n_sub = K.fold(
        K.xform("toks", "t -> cast(ceil(length(t) / 4.0) as bigint)", SPARK),
        "cast(0 as bigint)", "(acc, x) -> acc + x", SPARK,
    )
    total_len = K.fold(
        K.xform("toks", "t -> cast(length(t) as bigint)", SPARK),
        "cast(0 as bigint)", "(acc, x) -> acc + x", SPARK,
    )
    return t.select(
        "doc_id",
        F.expr(K.asize("toks", SPARK)).cast("bigint").alias("n_tokens"),
        F.expr(K.asize(K.adistinct("toks", SPARK), SPARK))
        .cast("bigint").alias("n_distinct_tokens"),
        F.expr(n_sub).alias("n_subword_tokens"),
        F.expr(f"round({total_len} / cast({K.asize('toks', SPARK)} as double), 6)")
        .alias("avg_token_len"),
    )


def token_stats_oracle() -> str:
    toks = K.tokens("text", DUCK)
    n_sub = K.fold(
        K.xform("toks", "t -> cast(ceil(length(t) / 4.0) as bigint)", DUCK),
        "cast(0 as bigint)", "(acc, x) -> acc + x", DUCK,
    )
    total_len = K.fold(
        K.xform("toks", "t -> cast(length(t) as bigint)", DUCK),
        "cast(0 as bigint)", "(acc, x) -> acc + x", DUCK,
    )
    return f"""
        with t as (select doc_id, {toks} as toks from documents)
        select doc_id,
               cast({K.asize('toks', DUCK)} as bigint) as n_tokens,
               cast({K.asize(K.adistinct('toks', DUCK), DUCK)} as bigint)
                   as n_distinct_tokens,
               {n_sub} as n_subword_tokens,
               round({total_len} / cast({K.asize('toks', DUCK)} as double), 6)
                   as avg_token_len
        from t
    """


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: distinct-token ratio × length factor — the
    word-salad analogue of the usual length/punct/stopword heuristics."""
    t = _tok_frame(spark, sf_dir)
    n = K.asize("toks", SPARK)
    nd = K.asize(K.adistinct("toks", SPARK), SPARK)
    return t.select(
        "doc_id",
        F.expr(f"round({nd} / cast({n} as double), 6)").alias("distinct_ratio"),
        F.expr(
            f"round(({nd} / cast({n} as double)) *"
            f" least(1.0, {n} / 50.0), 6)"
        ).alias("quality"),
        (F.expr(n) >= MIN_QUALITY_TOKENS).alias("keep"),
    )


def quality_scores_oracle() -> str:
    toks = K.tokens("text", DUCK)
    n = K.asize("toks", DUCK)
    nd = K.asize(K.adistinct("toks", DUCK), DUCK)
    return f"""
        with t as (select doc_id, {toks} as toks from documents)
        select doc_id,
               round({nd} / cast({n} as double), 6) as distinct_ratio,
               round(({nd} / cast({n} as double)) *
                     least(1.0, {n} / 50.0), 6) as quality,
               {n} >= {MIN_QUALITY_TOKENS} as keep
        from t
    """


def _lang_score(toks: str, lang: str, d: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return K.fold(
        K.xform(toks, f"t -> case when t in ({words}) then 1 else 0 end", d),
        "0", "(acc, x) -> acc + x", d,
    )


def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language guess with deterministic tie-break (highest
    score, then highest language code — array_max over (score, lang)
    structs; 'und' when no stopword hits)."""
    t = _tok_frame(spark, sf_dir)
    langs = sorted(STOPWORDS)
    scores = [f"struct({_lang_score('toks', l, SPARK)} as score, '{l}' as lang)"
              for l in langs]
    best = (
        f"array_max(array({', '.join(scores)}))"
    )
    return t.select(
        "doc_id",
        F.expr(f"case when {best}.score > 0 then {best}.lang else 'und' end")
        .alias("lang_guess"),
        F.expr(f"{best}.score").alias("lang_score"),
    )


def langid_heuristic_oracle() -> str:
    toks = K.tokens("text", DUCK)
    langs = sorted(STOPWORDS)
    cols = ", ".join(
        f"{_lang_score('toks', l, DUCK)} as s_{l}" for l in langs
    )
    # deterministic argmax mirroring Spark's array_max over (score, lang)
    # structs: order desc on (score, lang), take the first row.
    unions = " union all ".join(
        f"select doc_id, s_{l} as score, '{l}' as lang from s" for l in langs
    )
    return f"""
        with t as (select doc_id, {toks} as toks from documents),
        s as (select doc_id, {cols} from t),
        u as ({unions})
        select doc_id, lang_guess, lang_score from (
            select doc_id,
                   case when score > 0 then lang else 'und' end as lang_guess,
                   score as lang_score,
                   row_number() over (partition by doc_id
                                      order by score desc, lang desc) as rn
            from u
        ) where rn = 1
    """


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (same polynomial scheme as the
    dedup shingles) + a normalized variant."""
    return read_documents(spark, sf_dir).select(
        "doc_id",
        F.expr(K.polyhash("text", SPARK)).alias("fp"),
        F.expr(K.polyhash("lower(trim(text))", SPARK)).alias("fp_norm"),
    )


def fingerprints_oracle() -> str:
    return f"""
        select doc_id,
               {K.polyhash('text', DUCK)} as fp,
               {K.polyhash('lower(trim(text))', DUCK)} as fp_norm
        from documents
    """


# -- Gopher-style composite quality filter ----------------------------------
#: public heuristics (Rae et al. 2021 "Scaling Language Models", Table A1):
#: word-count bounds, mean-word-length band, non-alphabetic word cap,
#: minimum stop-word presence. Thresholds below are the published ones
#: scaled to the short synthetic docs (min words 10 instead of 50).
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_NOALPHA_FRAC = 0.2
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_cols(d: str) -> dict[str, str]:
    toks = "toks"
    n = f"cast({K.asize(toks, d)} as bigint)"
    total_len = K.fold(
        K.xform(toks, "t -> cast(length(t) as bigint)", d),
        "cast(0 as bigint)", "(acc, x) -> acc + x", d,
    )
    alpha_re = "'[A-Za-z]'"
    no_alpha = K.fold(
        K.xform(
            toks,
            (f"t -> case when t rlike {alpha_re} then 0 else 1 end" if d == SPARK
             else f"t -> case when regexp_matches(t, {alpha_re}) then 0 else 1 end"),
            d,
        ),
        "0", "(acc, x) -> acc + x", d,
    )
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
    stop_hits = K.fold(
        K.xform(toks, f"t -> case when lower(t) in ({stops}) then 1 else 0 end", d),
        "0", "(acc, x) -> acc + x", d,
    )
    return {
        "n_words": n,
        "mean_word_len": f"round({total_len} / cast({n} as double), 6)",
        "noalpha_frac": f"round({no_alpha} / cast({n} as double), 6)",
        "stop_hits": f"cast({stop_hits} as bigint)",
    }


def _gopher_pass(c: dict[str, str]) -> str:
    return (
        f"({c['n_words']} >= {GOPHER_MIN_WORDS}"
        f" and {c['n_words']} <= {GOPHER_MAX_WORDS}"
        f" and {c['mean_word_len']} >= {GOPHER_MIN_MEAN_LEN}"
        f" and {c['mean_word_len']} <= {GOPHER_MAX_MEAN_LEN}"
        f" and {c['noalpha_frac']} <= {GOPHER_MAX_NOALPHA_FRAC}"
        f" and {c['stop_hits']} >= {GOPHER_MIN_STOP_HITS})"
    )


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-rule document filter — the multi-signal quality
    gate a pretraining pipeline runs corpus-wide. Scan-local narrow
    projection (no shuffle): at 100 TB this runs at IO speed and the
    boolean feeds a partition-pruning-friendly filter on write."""
    t = _tok_frame(spark, sf_dir)
    c = _gopher_cols(SPARK)
    return t.select(
        "doc_id",
        F.expr(c["n_words"]).alias("n_words"),
        F.expr(c["mean_word_len"]).alias("mean_word_len"),
        F.expr(c["noalpha_frac"]).alias("noalpha_frac"),
        F.expr(c["stop_hits"]).alias("stop_hits"),
        F.expr(_gopher_pass(c)).alias("keep"),
    )


def gopher_quality_oracle() -> str:
    toks = K.tokens("text", DUCK)
    c = _gopher_cols(DUCK)
    return f"""
        with t as (select doc_id, {toks} as toks from documents)
        select doc_id,
               {c['n_words']} as n_words,
               {c['mean_word_len']} as mean_word_len,
               {c['noalpha_frac']} as noalpha_frac,
               {c['stop_hits']} as stop_hits,
               {_gopher_pass(c)} as keep
        from t
    """


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratios (the other half of the Gopher filters): the
    fraction of all token bigrams taken by the single most frequent
    bigram per document. Plan: explode to (doc, bigram) → two-level
    hash agg → max_by — shuffles on doc_id only (near-uniform key, ~n
    rows), with map-side partial aggregation; no self-join."""
    t = _tok_frame(spark, sf_dir)
    # size guard: sequence(0, -1) would generate a DESCENDING sequence
    # for 1-token docs — filter matches the oracle's len(toks) >= 2
    bigrams = t.filter(F.expr("size(toks) >= 2")).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1]))"
        )).alias("bigram"),
    )
    per = bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("cnt"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.col("top_cnt").cast("bigint").alias("top_bigram_cnt"),
            F.expr("round(top_cnt / cast(n_bigrams as double), 6)")
            .alias("top_bigram_frac"),
        )
    )


def repetition_stats_oracle() -> str:
    toks = K.tokens("text", DUCK)
    return f"""
        with t as (select doc_id, {toks} as toks from documents),
        b as (
            select doc_id, unnest(list_transform(
                       range(1, len(toks)),
                       i -> concat(toks[i], ' ', toks[i + 1]))) as bigram
            from t
            where len(toks) >= 2
        ),
        per as (
            select doc_id, bigram, count(*) as cnt
            from b group by doc_id, bigram
        )
        select doc_id,
               cast(sum(cnt) as bigint) as n_bigrams,
               cast(max(cnt) as bigint) as top_bigram_cnt,
               round(max(cnt) / cast(sum(cnt) as double), 6)
                   as top_bigram_frac
        from per group by doc_id
    """


# ---------------------------------------------------------------------------
# cross-document passage boilerplate (repeated-shingle flagging)
# ---------------------------------------------------------------------------

PASSAGE_W = 8       # shingle width in tokens (a "passage" unit)
PASSAGE_DF_TAU = 3  # a shingle in > TAU docs is corpus boilerplate


def passage_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage-level boilerplate: the corpus-wide
    complement of the within-document frequency strip (A4). Templated
    pages, mirrored legal footers and licence blocks repeat the SAME
    multi-token passages across MANY documents — per-doc heuristics
    never see that. Flag: per document, the fraction of its distinct
    ``PASSAGE_W``-token shingles whose document frequency exceeds
    ``PASSAGE_DF_TAU`` (the Lee-et-al-style dedup signal, reduced to a
    scan-friendly aggregate).

    Plan shape at 100 TB: explode distinct shingle hashes →
    (shingle → doc-frequency) hash agg → join back → per-doc rollup.
    Two shuffles, both keyed near-uniformly (shingle hash, doc_id),
    map-side partial aggregation on each; no self-join and nothing
    quadratic. Output is a 4-column frame a corpus filter consumes
    directly."""
    from .sigkernel import signature_frame

    # shingle hashes from the vectorized Arrow kernel (bit-identical to
    # the HOF fragments the oracle replays — tests/test_sigkernel.py)
    docs = signature_frame(
        read_documents(spark, sf_dir), PASSAGE_W, minhash=False
    ).select("doc_id", "sh")
    ex = docs.select("doc_id", F.explode("sh").alias("h"))
    df_counts = ex.groupBy("h").agg(
        F.countDistinct("doc_id").alias("df"))
    return (
        ex.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") > PASSAGE_DF_TAU, 1).otherwise(0))
            .cast("bigint").alias("n_common"),
        )
        .select(
            "doc_id", "n_shingles", "n_common",
            F.expr("round(cast(n_common as double) / n_shingles, 6)")
            .alias("common_frac"),
        )
    )


def passage_boilerplate_oracle() -> str:
    from . import sqlkit as K
    from .sqlkit import DUCK

    sh = K.shingle_hashes("text", PASSAGE_W, DUCK)
    return f"""
        with d as (
            select doc_id, {sh} as sh from documents
        ),
        ex as (select doc_id, unnest(sh) as h from d),
        dfreq as (select h, count(distinct doc_id) as df from ex group by h)
        select ex.doc_id,
               cast(count(*) as bigint) as n_shingles,
               cast(sum(case when dfreq.df > {PASSAGE_DF_TAU} then 1
                        else 0 end) as bigint) as n_common,
               round(sum(case when dfreq.df > {PASSAGE_DF_TAU} then 1
                         else 0 end) * 1.0 / count(*), 6) as common_frac
        from ex join dfreq on ex.h = dfreq.h
        group by ex.doc_id
    """


# ---------------------------------------------------------------------------
# exact-substring repeated spans (Lee et al. 2022-style dedup signal)
# ---------------------------------------------------------------------------

EXACT_W = 8  # k-gram width: repeated spans of >= EXACT_W tokens are found


def _gram_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): the polyhash ``h`` of every ``EXACT_W``-token
    window of each document, at its 1-based start position ``pos`` —
    the kernel's positional mode. Persisted: it feeds both the
    gram-frequency agg and the mark join, and without the cache the
    kernel hashes the corpus once per branch."""
    from .sigkernel import signature_frame

    from ..runtime import track_cache

    return track_cache(signature_frame(
        docs, EXACT_W, minhash=False, distinct=False, pad_short=False,
    ).select(
        "doc_id", F.posexplode("sh").alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "h"))


def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring repeated-span detection — the token-range form
    of "Deduplicating Training Data Makes Language Models Better" (Lee
    et al. 2022, public): find, per document, every maximal token span
    of ≥ ``EXACT_W`` tokens whose every ``EXACT_W``-gram occurs more
    than once in the corpus (including within-document repeats).  The
    suffix-array pipeline of the paper reduces, on a shared-nothing
    engine, to POSITIONAL k-gram marking: a repeated span of length
    ≥ k is exactly a maximal run of consecutive repeated-k-gram start
    positions — no suffix array, two shuffles.

    Emits (doc_id, span_start, span_end, span_tokens, n_grams) with
    1-based inclusive token positions — the cut-list a span-removal
    pass consumes.  Hash collisions can in principle over-mark (both
    engines hash identically, so the oracle still matches); production
    removal verifies the marked bytes before cutting, same as the LSH
    verify step.

    Scale shape at 100 TB: positional k-gram hashes from the
    vectorized kernel (narrow Arrow map), one hash-agg on the gram
    hash (near-uniform key), one window keyed on doc_id for the
    run-length grouping.  Nothing quadratic, no per-row Python."""
    from pyspark.sql.window import Window

    occ = _gram_positions(read_documents(spark, sf_dir))
    cnt = occ.groupBy("h").agg(F.count("*").alias("c"))
    marked = occ.join(cnt, "h").filter(F.col("c") > 1)
    win = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(win))
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(EXACT_W - 1)).alias("span_end"),
            F.count("*").cast("bigint").alias("n_grams"),
        )
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .alias("span_tokens"),
            "n_grams",
        )
    )


def gram_hashes_duck(toks: str, w: int) -> str:
    """DuckDB: the polyhash of every w-token window of the token array
    ``toks``, in position order, and none for an array of fewer than w
    tokens — the oracle form of the kernel's positional mode
    (``signature_frame(distinct=False, pad_short=False)``)."""
    n = K.asize(toks, DUCK)
    parts = ", ".join(K.at(toks, f"i + {k}", DUCK) for k in range(w))
    windows = K.xform(
        f"range(1, greatest({n} - {w} + 2, 1))",
        f"i -> concat_ws(' ', {parts})", DUCK)
    return K.xform(windows, f"s -> {K.polyhash('s', DUCK)}", DUCK)


def exact_substring_spans_oracle() -> str:
    toks = K.tokens("text", DUCK)
    grams = gram_hashes_duck("toks", EXACT_W)
    return f"""
        with t as (
            select doc_id, {grams} as g
            from (select doc_id, {toks} as toks from documents)
        ),
        occ as (
            select doc_id, cast(unnest(range(1, len(g) + 1)) as bigint)
                       as pos,
                   unnest(g) as h
            from t
        ),
        cnt as (select h, count(*) as c from occ group by h),
        marked as (
            select o.doc_id, o.pos from occ o join cnt using (h)
            where c > 1
        ),
        runs as (
            select doc_id, pos,
                   pos - row_number() over (partition by doc_id
                                            order by pos) as grp
            from marked
        )
        select doc_id,
               cast(min(pos) as bigint) as span_start,
               cast(max(pos) + {EXACT_W - 1} as bigint) as span_end,
               cast(max(pos) - min(pos) + {EXACT_W} as bigint)
                   as span_tokens,
               cast(count(*) as bigint) as n_grams
        from runs
        group by doc_id, grp
    """


def remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact-substring dedup: re-emit every document
    with all repeated spans (≥ ``EXACT_W`` tokens, per
    :func:`exact_substring_spans`) cut out — the conservative
    remove-all-copies variant of Lee et al.'s span removal (the
    keep-one-occurrence policy needs a cross-document occurrence
    pairing; corpora that want it run keep_canonical-style selection on
    the span groups first).

    Emits (doc_id, n_tok, n_removed, clean_text).  Order-sensitive
    reassembly is deterministic: kept tokens are collected as
    (pos, token) structs and sorted in-plan (``sort_array``) before
    joining — never a bare ``collect_list`` whose order is partition
    timing.

    Scale shape: the span detection's two shuffles, plus one doc-keyed
    aggregation for the rebuild; the token explode is scan-local."""
    docs = read_documents(spark, sf_dir)
    occ = _gram_positions(docs)
    cnt = occ.groupBy("h").agg(F.count("*").alias("c"))
    # covered token positions: each marked gram start p covers
    # p .. p+W-1; explode the small per-gram range and dedup
    covered = (
        occ.join(cnt, "h").filter(F.col("c") > 1)
        .select("doc_id", F.explode(F.expr(
            f"sequence(pos, pos + {EXACT_W - 1})")).alias("tpos"))
        .distinct()
    )
    toks = (
        docs.select("doc_id", F.posexplode(
            F.expr(K.tokens("text", SPARK))).alias("tpos0", "tok"))
        .select("doc_id", (F.col("tpos0") + 1).cast("bigint").alias("tpos"),
                "tok")
    )
    kept = toks.join(covered, ["doc_id", "tpos"], "left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.expr(
            "array_join(transform(sort_array(collect_list("
            "struct(tpos, tok))), x -> x.tok), ' ')").alias("clean_text"),
             F.count("*").alias("n_kept"))
    )
    totals = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id", "n_tok",
            (F.col("n_tok") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def remove_repeated_spans_oracle() -> str:
    toks = K.tokens("text", DUCK)
    grams = gram_hashes_duck("toks", EXACT_W)
    return f"""
        with t as (
            select doc_id, toks, {grams} as g
            from (select doc_id, {toks} as toks from documents)
        ),
        occ as (
            select doc_id,
                   cast(unnest(range(1, len(g) + 1)) as bigint) as pos,
                   unnest(g) as h
            from t
        ),
        cnt as (select h, count(*) as c from occ group by h),
        covered as (
            select distinct o.doc_id,
                   cast(unnest(range(o.pos, o.pos + {EXACT_W})) as bigint)
                       as tpos
            from occ o join cnt using (h)
            where c > 1
        ),
        tok as (
            select doc_id,
                   cast(unnest(range(1, len(toks) + 1)) as bigint) as tpos,
                   unnest(toks) as tok
            from t
        ),
        kept as (
            select tok.* from tok
            anti join covered using (doc_id, tpos)
        ),
        rebuilt as (
            select doc_id,
                   string_agg(tok, ' ' order by tpos) as clean_text,
                   cast(count(*) as bigint) as n_kept
            from kept group by doc_id
        ),
        totals as (
            select doc_id, cast(count(*) as bigint) as n_tok
            from tok group by doc_id
        )
        select t.doc_id, t.n_tok,
               cast(t.n_tok - coalesce(r.n_kept, 0) as bigint) as n_removed,
               coalesce(r.clean_text, '') as clean_text
        from totals t left join rebuilt r using (doc_id)
    """


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (deterministic, cross-engine)
# ---------------------------------------------------------------------------

HLL_P = 8                 # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_W = 22                # rho window: bits 8..29 of the mixed hash
#: Flajolet et al. 2007 bias constant for m=256, folded with the
#: m²·2^30 scale into ONE double literal (engines would otherwise
#: associate the multiplications differently — and DuckDB parses a bare
#: decimal literal as DECIMAL, overflowing on ·m²)
HLL_NUMER = repr(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * (1 << 30))


def _hll_rho(v: str, d: str) -> str:
    """Leading-zero rank of ``v`` inside a 22-bit window: ``bin()`` is
    integer-exact in both engines (a float log2 at a power-of-two
    boundary is not)."""
    return (f"(case when {v} = 0 then {HLL_W + 1} "
            f"else {HLL_W + 1} - length(bin({v})) end)")


def _hll_mix(h: str, d: str) -> str:
    """Avalanche finalizer over the polyhash (murmur3's public fmix
    constants, overflow-safe in bigint: a 30-bit value × a 32-bit
    constant stays under 2^63, so ANSI mode never trips).  The raw
    polynomial hash of SEQUENTIAL keys is a lattice — its high bits are
    far from uniform, which biases every leading-zero estimator; two
    multiply-xorshift rounds restore the uniformity HLL's analysis
    assumes (measured: 20k sequential tokens estimate 9.7k raw vs
    20.3k mixed)."""
    def shr(x: str, n: int) -> str:
        return (f"shiftright({x}, {n})" if d == SPARK
                else f"({x} >> {n})")

    z1 = f"({h} * {0x85EBCA6B})"
    z1x = f"({K.bxor(z1, shr(z1, 13), d)})"
    z2 = f"(({z1x} & {0x7FFFFFFF}) * {0xC2B2AE35})"
    return f"({K.bxor(z2, shr(z2, 16), d)})"


def approx_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source approximate distinct-token count via a from-scratch
    HyperLogLog (Flajolet/Fusy/Gandouet/Meunier 2007, public) — the
    sketch a 100 TB profiler uses where ``count(distinct)`` would
    shuffle every token: per-register max-rho is a plain hash
    aggregate, mergeable across partitions/days/segments by register
    max.  Engine builtins (Spark HLL++ vs DuckDB's ApproxCountDistinct)
    are NOT cross-checkable — different hash, different bias tables —
    so this implementation IS the oracle-able sketch: polyhash →
    8-bit register / 22-bit rho window (``bin()``-based, integer-exact),
    register sums in scaled INTEGERS (2^(30-rho), order-free), one
    float division + the small-range linear-counting branch at the end,
    rounded to 3 decimals to absorb last-ulp libm ``ln`` differences.

    Emits (source, n_exact, n_est, rel_err) — the exact distinct-hash
    count rides along at test scale so the error is visible and
    oracle-checked; production drops it."""
    hv = K.polyhash("tok", SPARK)
    occ = read_documents(spark, sf_dir).select(
        "source", F.explode(F.expr(K.tokens("text", SPARK))).alias("tok")
    ).select("source", F.expr(_hll_mix(f"({hv})", SPARK)).alias("h"))
    per_bucket = (
        occ.groupBy("source", F.expr(f"h & {HLL_M - 1}").alias("bucket"))
        .agg(F.max(F.expr(_hll_rho(
            f"(shiftright(h, {HLL_P}) & {(1 << HLL_W) - 1})", SPARK)))
             .alias("rho"))
    )
    sums = per_bucket.groupBy("source").agg(
        F.count("*").alias("nb"),
        F.sum(F.expr("cast(pow(2, 30 - rho) as bigint)")).alias("s_present"),
    )
    exact = occ.groupBy("source").agg(
        F.countDistinct("h").alias("n_exact"))
    est = (
        sums.select(
            "source",
            (F.lit(HLL_M) - F.col("nb")).alias("v"),
            (F.col("s_present")
             + (F.lit(HLL_M) - F.col("nb")) * F.lit(1 << 30)).alias("s"),
        )
        .select(
            "source", "v",
            F.expr(f"{HLL_NUMER} / s").alias("raw"),
        )
        .select(
            "source",
            F.expr(
                f"round(case when v > 0 and raw <= {2.5 * HLL_M} "
                f"then {HLL_M} * ln({HLL_M} / cast(v as double)) "
                f"else raw end, 3)"
            ).alias("n_est"),
        )
    )
    return (
        exact.join(est, "source")
        .select(
            "source",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            "n_est",
            F.expr("round(abs(n_est - n_exact) / n_exact, 4)")
            .alias("rel_err"),
        )
    )


def approx_distinct_tokens_oracle() -> str:
    toks = K.tokens("text", DUCK)
    hv = K.polyhash("tok", DUCK)
    rho = _hll_rho(f"((h >> {HLL_P}) & {(1 << HLL_W) - 1})", DUCK)
    return f"""
        with occ as (
            select source, {_hll_mix(f'({hv})', DUCK)} as h
            from (select source, unnest({toks}) as tok from documents)
        ),
        per_bucket as (
            select source, h & {HLL_M - 1} as bucket, max({rho}) as rho
            from occ group by source, h & {HLL_M - 1}
        ),
        sums as (
            select source, count(*) as nb,
                   cast(sum(cast(pow(2, 30 - rho) as bigint)) as bigint)
                       as s_present
            from per_bucket group by source
        ),
        est as (
            select source, {HLL_M} - nb as v,
                   {HLL_NUMER} / (s_present + ({HLL_M} - nb)
                                  * cast({1 << 30} as bigint)) as raw
            from sums
        ),
        fin as (
            select source,
                   round(case when v > 0 and raw <= {2.5 * HLL_M}
                         then {HLL_M} * ln({HLL_M} / cast(v as double))
                         else raw end, 3) as n_est
            from est
        ),
        exact as (
            select source, cast(count(distinct h) as bigint) as n_exact
            from occ group by source
        )
        select exact.source, n_exact, n_est,
               round(abs(n_est - n_exact) / n_exact, 4) as rel_err
        from exact join fin using (source)
    """


# ---------------------------------------------------------------------------
# unigram surprisal (CCNet-style LM quality signal)
# ---------------------------------------------------------------------------

def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring, CCNet-style (Wenzek et al. 2020,
    public): score every document by its mean token surprisal under the
    corpus's own unigram model — the perplexity-bucket filter that
    separates fluent text (low surprisal) from gibberish / rare-vocab
    noise (high) and degenerate boilerplate (very low).

    Integer micro-nats end to end (the bm25 trick): each distinct
    token's surprisal ``round(1e6 · ln(T / cnt))`` is ONE float op
    rounded to a bigint, so per-doc sums are order-free and
    cross-engine exact; the per-doc mean is integer division.

    Scale shape at 100 TB: one vocab aggregation (token hash keys,
    map-side partial), the 1-row total broadcast, the vocab joined back
    to the exploded corpus (AQE picks broadcast when the vocab measures
    small; an open web vocab is unbounded, so the hint is not forced),
    one doc_id hash-agg. No sort, nothing quadratic."""
    occ = read_documents(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(K.tokens("text", SPARK))).alias("tok"))
    vocab = occ.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("t_total"))
    scored = (
        vocab.crossJoin(F.broadcast(total))
        .select("tok", F.expr(
            "cast(round(1000000 * ln(cast(t_total as double) / cnt))"
            " as bigint)").alias("c_u"))
    )
    # NO forced broadcast on the vocab side: a web-scale OPEN vocab
    # (URLs, typos, code) is not bounded like a benchmark's — AQE picks
    # broadcast when the measured size allows, shuffle-hash otherwise;
    # production runs also min-count-filter the LM, which is what
    # bounds it in CCNet itself
    return (
        occ.join(scored, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("c_u").cast("bigint").alias("nll_u"),
        )
        .select(
            "doc_id", "n_tok", "nll_u",
            F.expr("nll_u DIV n_tok").alias("mean_nll_u"),
        )
    )


def unigram_surprisal_oracle() -> str:
    toks = K.tokens("text", DUCK)
    return f"""
        with occ as (
            select doc_id, unnest({toks}) as tok from documents
        ),
        vocab as (
            select tok, cast(count(*) as bigint) as cnt
            from occ group by tok
        ),
        total as (select cast(sum(cnt) as bigint) as t_total from vocab),
        scored as (
            select tok,
                   cast(round(1000000 * ln(cast(t_total as double) / cnt))
                        as bigint) as c_u
            from vocab cross join total
        )
        select doc_id,
               cast(count(*) as bigint) as n_tok,
               cast(sum(c_u) as bigint) as nll_u,
               cast(sum(c_u) as bigint) // count(*) as mean_nll_u
        from occ join scored using (tok)
        group by doc_id
    """


# ---------------------------------------------------------------------------
# BM25 scored retrieval (training-data curation by query relevance)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
#: fixed query term set for the registered query (a production caller
#: passes its own); terms chosen from the synthetic corpus vocabulary
BM25_QUERY = ("merge", "window", "stream")


def _bm25_contrib(tf: str, dft: str, dl: str, n: str, avgdl: str) -> str:
    """Per-(doc, term) BM25 contribution in integer MICRO-UNITS — the
    one float expression is emitted textually identical for both
    engines (same IEEE ops in the same order), then rounded to a bigint
    so the per-doc SUM is exact integer math, immune to the
    float-addition reorder a hash aggregate is free to do."""
    # float literals carry an exponent (0.5e0): a bare `0.5` parses as
    # DECIMAL in both engines, and decimal scale rules differ — e-form
    # forces DOUBLE so the whole expression is identical IEEE math
    idf = f"ln(1e0 + ({n} - {dft} + 0.5e0) / ({dft} + 0.5e0))"
    norm = (f"(({tf} * {BM25_K1 + 1}e0) / "
            f"({tf} + {BM25_K1}e0 * "
            f"(1e0 - {BM25_B}e0 + {BM25_B}e0 * {dl} / {avgdl})))")
    return f"cast(round(1000000 * {idf} * {norm}) as bigint)"


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by BM25 (Robertson/Sparck-Jones, public formula;
    k1=1.2, b=0.75) for a fixed query term set — retrieval-scored
    curation: "give me the corpus slice most relevant to X" is how
    domain-targeted training subsets get carved at scale.

    Plan shape at 100 TB: the explode is scan-local and immediately
    filtered to the query terms (a few rows per doc survive), term
    document-frequencies are a tiny broadcast (|query| rows), the only
    real shuffle is the (doc_id) hash-agg of integer scores, and top-k
    is a single-partition sort of per-partition prefilter winners
    (Spark's TakeOrderedAndProject). Scores are integer micro-units end
    to end — see _bm25_contrib."""
    from pyspark.sql.window import Window

    t = _tok_frame(spark, sf_dir).select(
        "doc_id", "toks", F.expr(K.asize("toks", SPARK)).alias("dl"))
    stats = t.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    occ = (
        t.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY))
    )
    tf = occ.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    dft = occ.groupBy("term").agg(F.countDistinct("doc_id").alias("dft"))
    contrib = _bm25_contrib(
        "tf", "dft", "dl",
        "n_docs", "(sum_dl / cast(n_docs as double))")
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(contrib).alias("c_u"))
        .groupBy("doc_id")
        .agg(F.sum("c_u").alias("score_u"))
    )
    # distributed top-k FIRST (TakeOrderedAndProject: per-partition
    # heads, no global sort), THEN the rank window over only k rows —
    # a bare rank window here would single-partition every scored doc
    top = scored.orderBy(
        F.col("score_u").desc(), F.col("doc_id")).limit(BM25_TOPK)
    win = Window.orderBy(F.col("score_u").desc(), F.col("doc_id"))
    return (
        top.withColumn("rk", F.row_number().over(win).cast("bigint"))
        .select("doc_id", "score_u", "rk")
    )


def bm25_topk_oracle() -> str:
    terms = ", ".join(f"'{q}'" for q in BM25_QUERY)
    toks = K.tokens("text", DUCK)
    contrib = _bm25_contrib(
        "tf", "dft", "dl",
        "n_docs", "(sum_dl / cast(n_docs as double))")
    return f"""
        with t as (
            select doc_id, {toks} as toks from documents
        ),
        sized as (select doc_id, toks, {K.asize('toks', DUCK)} as dl from t),
        stats as (select count(*) as n_docs, sum(dl) as sum_dl from sized),
        occ as (
            select doc_id, dl, unnest(toks) as term from sized
        ),
        qocc as (select * from occ where term in ({terms})),
        tf as (select doc_id, dl, term, count(*) as tf
               from qocc group by doc_id, dl, term),
        dft as (select term, count(distinct doc_id) as dft
                from qocc group by term),
        scored as (
            -- cast: DuckDB sum(BIGINT) declares HUGEINT; Spark stays
            -- bigint, and the driver's value-hash is dtype-sensitive
            select tf.doc_id, cast(sum({contrib}) as bigint) as score_u
            from tf join dft using (term) cross join stats
            group by tf.doc_id
        )
        select doc_id, score_u,
               cast(row_number() over (order by score_u desc, doc_id)
                    as bigint) as rk
        from scored
        qualify rk <= {BM25_TOPK}
    """


# ---------------------------------------------------------------------------
# per-source quota sampling (the per-host cap of web-corpus curation)
# ---------------------------------------------------------------------------

SOURCE_QUOTA = 10


def source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota: keep at most ``SOURCE_QUOTA`` docs per
    ``source``, chosen by a deterministic hash order — the per-host cap
    every web-scale corpus applies so no single crawl host dominates
    the training mix. Hash order (not doc_id order) makes the kept set
    a uniform pseudo-random sample that is stable across runs,
    partitionings, and cluster sizes.

    Plan shape at 100 TB: one shuffle keyed on ``source`` for the
    within-source rank. Host-key skew is real (a giant host vs tiny
    ones) and this window form is exact; when a host exceeds executor
    memory, the standard relaxation is threshold sampling — keep docs
    with hash < quota/|host| × PRIME using a broadcast per-host count
    (two scans, zero windows, approximate quota) — documented here as
    the overflow path, not implemented separately."""
    from pyspark.sql.window import Window

    hv = K.polyhash("concat(source, '|', cast(doc_id as string))", SPARK)
    d = read_documents(spark, sf_dir).select(
        "doc_id", "source", F.expr(hv).alias("hv"))
    win = Window.partitionBy("source").orderBy("hv", "doc_id")
    return (
        d.withColumn("sample_rank", F.row_number().over(win).cast("bigint"))
        .filter(F.col("sample_rank") <= SOURCE_QUOTA)
        .select("doc_id", "source", "sample_rank")
    )


def source_quota_sample_oracle() -> str:
    hv = K.polyhash("concat(source, '|', cast(doc_id as varchar))", DUCK)
    return f"""
        with h as (select doc_id, source, {hv} as hv from documents)
        select doc_id, source,
               cast(row_number() over (partition by source
                                       order by hv, doc_id)
                    as bigint) as sample_rank
        from h
        qualify sample_rank <= {SOURCE_QUOTA}
    """
