"""Corpus-curation operators for the training-data pipeline:
benchmark decontamination, PII scrubbing, and sequence packing.

These are the three pre-training steps that sit AFTER dedup/quality
filtering (operators/dedup.py, functions/textstats.py) and BEFORE the
data leaves the engine: drop documents that leak the eval set, strip
personally-identifying strings, and pack the survivors into
fixed-token-budget training sequences.  Like the rest of the curation
tier they are pure Catalyst over the ``documents`` table with DuckDB
oracles built from the same sqlkit fragments, so every one is
hash-checked end to end.

Reference scope note: bitextor/pdf-extract stops at span extraction —
these operators are the pipeline surface a 100 TB corpus consumer needs
downstream of it, designed Spark-first (broadcast semi-joins, shard-local
windows) rather than ported from anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..runtime import read_documents
from . import sqlkit as K
from .sqlkit import DUCK, SPARK

# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------

#: word-n-gram width for contamination probes — long enough that a hit
#: is near-certainly a real excerpt, short enough to survive light edits
#: (the GPT-3/PaLM-style 8-13 gram convention; 8 here so the short
#: synthetic docs still carry multiple probes)
CONTAM_W = 8
#: eval-set selector: polyhash(doc_id) % CONTAM_MOD == CONTAM_RESIDUE
#: (a deterministic ~5% pseudo-random "benchmark" carved from the corpus
#: itself, since no external eval data exists in the sandbox)
CONTAM_MOD, CONTAM_RESIDUE = 19, 3
#: flag threshold: fraction of a document's n-grams that appear in the
#: eval set, as an exact rational (1/5) so both engines compare integers
CONTAM_NUM, CONTAM_DEN = 1, 5


def _eval_selector(doc_id: str, d: str) -> str:
    hv = K.polyhash(f"cast({doc_id} as string)", d)
    return f"(({hv}) % {CONTAM_MOD}) = {CONTAM_RESIDUE}"


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents whose word
    ``CONTAM_W``-grams overlap a held-out eval set (here a deterministic
    hash-selected ~5% of the corpus standing in for the real benchmark
    table, which in production is a separate small input).

    Emits one row per NON-eval document that shares at least one n-gram
    with the eval set: total probe count, hit count, and the
    ``contaminated`` verdict at overlap ratio ≥ 1/5.  Clean documents
    (the overwhelming majority) are filtered in-plan, so the result is
    O(near-dups of eval docs), not O(corpus).

    Scale shape at 100 TB: the eval side is SMALL by construction (a
    benchmark suite is megabytes) — its distinct n-gram hashes are
    broadcast, so the corpus side is one scan-local explode + broadcast
    hash join + per-doc hash-agg keyed on doc_id (near-uniform).  No
    shuffle touches the full corpus except the final doc_id agg of the
    *hit* rows only; the plan-shape test pins the broadcast.

    NOTE on the broadcast (r4 ADVICE): with the in-corpus ~5% stand-in,
    the eval side's distinct n-gram set grows WITH the corpus, so the
    broadcast shape only holds because the stand-in is a sandbox
    default.  Production callers must pass a genuinely small external
    eval table via :func:`decontaminate_frame` — the parameterized form
    this registered query wraps.
    """
    from .sigkernel import signature_frame

    d = signature_frame(
        read_documents(spark, sf_dir), CONTAM_W, minhash=False
    ).select(
        "doc_id",
        F.col("sh").alias("grams"),
        F.expr(_eval_selector("doc_id", SPARK)).alias("is_eval"),
    )
    eval_grams = (
        d.filter("is_eval")
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    corpus = d.filter(~F.col("is_eval"))
    return _contamination(corpus, eval_grams)


def decontaminate_frame(corpus_docs: DataFrame,
                        eval_docs: DataFrame) -> DataFrame:
    """Production decontamination API: flag ``corpus_docs`` documents
    whose word n-grams overlap ``eval_docs`` — an EXPLICIT, small eval
    input (a benchmark suite is megabytes), which is what makes the
    eval-gram broadcast a sound 100 TB shape.  Both sides hash through
    the vectorized kernel; the registered ``text_decontaminate`` query
    is this operator with a hash-selected in-corpus stand-in for the
    eval side (no external data exists in the sandbox)."""
    from .sigkernel import signature_frame

    eval_grams = (
        signature_frame(eval_docs, CONTAM_W, minhash=False)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    corpus = signature_frame(
        corpus_docs, CONTAM_W, minhash=False
    ).select("doc_id", F.col("sh").alias("grams"))
    return _contamination(corpus, eval_grams)


def _contamination(corpus: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Shared tail: explode the corpus grams, broadcast-join the eval
    gram set, per-doc rollup, ratio + verdict."""
    ex = corpus.select(
        "doc_id", F.size("grams").alias("n_grams"),
        F.explode("grams").alias("g"),
    )
    hits = (
        ex.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").alias("n_hit"))
    )
    return hits.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("hit_ratio"),
        (F.col("n_hit") * CONTAM_DEN >= F.col("n_grams") * CONTAM_NUM)
        .alias("contaminated"),
    )


def decontaminate_oracle() -> str:
    sh = K.shingle_hashes("text", CONTAM_W, DUCK)
    sel = _eval_selector("doc_id", DUCK)
    return f"""
        with graded as (
            select doc_id, {sh} as grams, {sel} as is_eval
            from documents
        ), eval_grams as (
            select distinct unnest(grams) as g from graded where is_eval
        ), corpus as (
            select doc_id, len(grams) as n_grams, unnest(grams) as g
            from graded where not is_eval
        ), hits as (
            select doc_id, n_grams, count(*) as n_hit
            from corpus join eval_grams using (g)
            group by doc_id, n_grams
        )
        select doc_id,
               cast(n_grams as bigint) as n_grams,
               cast(n_hit as bigint) as n_hit,
               round(n_hit / cast(n_grams as double), 6) as hit_ratio,
               (n_hit * {CONTAM_DEN} >= n_grams * {CONTAM_NUM})
                   as contaminated
        from hits
    """


# ---------------------------------------------------------------------------
# PII scrubbing (email / IPv4 / phone detection + redaction)
# ---------------------------------------------------------------------------

#: regex patterns restricted to the Java-regex ∩ RE2 common subset (no
#: lookaround, no backreferences) so Spark and DuckDB match identically
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,2}-\d{3}-\d{3}-\d{4}"
_REDACTIONS = (
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
)


def _pii_augmented(doc_id: str, text: str, d: str) -> str:
    """Deterministic in-plan PII injection: the synthetic corpus is
    PII-free word soup, so the operator seeds a known, reproducible
    population of emails / IPs / phone numbers (keyed on doc_id) for
    the detector to find — identical expression in both engines, so
    the oracle checks real matches, not a wall of zeros."""
    mail = (f"concat(' reach u', cast({doc_id} as string),"
            f" '@example.com or 10.0.', cast({doc_id} % 256 as string),"
            f" '.99 now')")
    phone = (f"concat(' call +1-202-555-0',"
             f" lpad(cast({doc_id} % 100 as string), 3, '0'), ' today')")
    return (f"concat({text}, case when {doc_id} % 7 = 0 then {mail} "
            f"when {doc_id} % 11 = 0 then {phone} else '' end)")


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-document counts of email / IPv4 /
    phone-number matches and the text with every match replaced by a
    typed placeholder.  Emits only documents where something was found
    (the audit view a release pipeline reviews); the redacted full
    corpus is the same projection without the filter.

    Patterns live in the Java-regex ∩ RE2 common subset so the DuckDB
    oracle replays them byte-identically.  Scale shape: pure scan-local
    narrow projection — zero shuffle, IO-bound at 100 TB, and regex
    evaluation stays inside whole-stage codegen (no Python).

    The synthetic corpus contains no organic PII, so a deterministic
    doc_id-keyed augmentation injects a known population first (see
    ``_pii_augmented``); on real data that step is identity.
    """
    aug = _pii_augmented("doc_id", "text", SPARK)
    d = read_documents(spark, sf_dir).select(
        "doc_id", F.expr(aug).alias("t"))
    # PROGRESSIVE counting (r4 ADVICE): pattern i is counted on the text
    # with replacements 1..i-1 already applied, so overlapping matches
    # ('foo@1.2.3.4.net': the email consumes the IPv4) never
    # desynchronize counts from emitted placeholders — count == number
    # of that placeholder in `redacted`, invariant-tested.
    stage = F.col("t")
    counts = []
    for (pat, tag), name in zip(_REDACTIONS,
                                ("n_email", "n_ipv4", "n_phone")):
        counts.append(
            F.size(F.regexp_extract_all(stage, F.lit(pat), F.lit(0)))
            .cast("bigint").alias(name))
        stage = F.regexp_replace(stage, pat, tag)
    out = d.select("doc_id", *counts, stage.alias("redacted"))
    return out.filter("n_email + n_ipv4 + n_phone > 0")


def pii_scrub_oracle() -> str:
    aug = _pii_augmented("doc_id", "text", DUCK)
    # the same progressive chain as the Spark side: count pattern i on
    # the text with replacements 1..i-1 applied
    stage = "t"
    counts = []
    for (pat, tag), name in zip(_REDACTIONS,
                                ("n_email", "n_ipv4", "n_phone")):
        counts.append(
            f"cast(len(regexp_extract_all({stage}, '{pat}')) as bigint)"
            f" as {name}")
        stage = f"regexp_replace({stage}, '{pat}', '{tag}', 'g')"
    return f"""
        with aug as (select doc_id, {aug} as t from documents),
        scrubbed as (
            select doc_id, {', '.join(counts)}, {stage} as redacted
            from aug
        )
        select * from scrubbed
        where n_email + n_ipv4 + n_phone > 0
    """


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk into fixed token budgets)
# ---------------------------------------------------------------------------

#: training-sequence token budget and shard fan-out.  Sharding bounds
#: the window: packing is exact WITHIN a shard and shards are
#: independent, which is precisely how production packers parallelize —
#: a global pack order would serialize the corpus through one sort.
#: At cluster scale NSHARDS is O(cores); 8 keeps sf0.001 shards non-empty.
SEQ_CAP = 512
NSHARDS = 8


def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: lay every document's tokens
    end to end (per shard, in deterministic hash-shard + doc_id order)
    and cut the stream every ``SEQ_CAP`` tokens — the GPT-style packing
    that feeds fixed-length training batches with documents allowed to
    straddle sequence boundaries.  Emits, per document: its shard, the
    first/last sequence it lands in, and its token offset inside the
    first one — enough for a writer to materialize the packed batches
    and for attention-masking to recover document boundaries.

    Scale shape at 100 TB: one shuffle keyed on ``shard`` (uniform by
    construction — it is a hash), then a per-shard running sum.  The
    window never sees more than corpus/NSHARDS rows and NSHARDS scales
    with the cluster, so no single total-order sort exists anywhere.
    Zero-token documents are dropped in-plan (they occupy no budget).
    """
    hv = K.polyhash("cast(doc_id as string)", SPARK)
    d = read_documents(spark, sf_dir).select(
        "doc_id",
        F.expr(f"({hv}) % {NSHARDS}").alias("shard"),
        F.expr(K.asize(K.tokens("text", SPARK), SPARK))
        .cast("bigint").alias("n_tok"),
    ).filter("n_tok > 0")
    win = (Window.partitionBy("shard").orderBy("doc_id")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # integer DIV throughout — bigint-exact at any corpus size (a double
    # divide would drift past 2^53 cumulative tokens)
    return d.withColumn("cum", F.sum("n_tok").over(win)).select(
        "doc_id", "shard", "n_tok",
        F.expr(f"(cum - n_tok) DIV {SEQ_CAP}").alias("seq_first"),
        F.expr(f"(cum - 1) DIV {SEQ_CAP}").alias("seq_last"),
        F.expr(f"(cum - n_tok) % {SEQ_CAP}").alias("off_in_seq"),
    )


def seq_pack_oracle() -> str:
    hv = K.polyhash("cast(doc_id as string)", DUCK)
    n_tok = K.asize(K.tokens("text", DUCK), DUCK)
    return f"""
        with toks as (
            select doc_id, ({hv}) % {NSHARDS} as shard,
                   cast({n_tok} as bigint) as n_tok
            from documents
        ), packed as (
            select doc_id, shard, n_tok,
                   -- cast: DuckDB sum(BIGINT) declares HUGEINT, which
                   -- would propagate through // and % into the seq_*
                   -- outputs and fail the driver's dtype-sensitive hash
                   cast(sum(n_tok) over (partition by shard order by doc_id
                                         rows between unbounded preceding
                                         and current row) as bigint) as cum
            from toks where n_tok > 0
        )
        select doc_id, shard, n_tok,
               (cum - n_tok) // {SEQ_CAP} as seq_first,
               (cum - 1) // {SEQ_CAP} as seq_last,
               (cum - n_tok) % {SEQ_CAP} as off_in_seq
        from packed
    """


# ---------------------------------------------------------------------------
# mixture resampling (temperature sampling + stratified split)
# ---------------------------------------------------------------------------

#: temperature-sampling exponent as an exact operation: α = 1/2 means a
#: source's mixture weight is √(its document count) — the standard
#: flattening that up-weights small sources relative to proportional
#: sampling without letting any single host dominate.  √ is the one
#: float op in the plan; floor(sqrt(bigint)) is identical across
#: engines (IEEE-754 sqrt is correctly rounded), and everything
#: downstream is bigint arithmetic so quotas are bit-stable.
TEMP_BUDGET_NUM, TEMP_BUDGET_DEN = 1, 2  # resampled size = corpus / 2

#: stratified split proportions in integer tenths: 8/10 train,
#: 1/10 valid, 1/10 test — exact per stratum, not just in expectation
SPLIT_TRAIN_TENTHS, SPLIT_VALID_TENTHS = 8, 9


def _ranked_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ranked within their source by a deterministic salted
    hash — the shared frame of every per-source sampling operator (the
    rank is a uniform pseudo-random permutation that is stable across
    runs, partitionings, and cluster sizes)."""
    hv = K.polyhash("concat(source, '#', cast(doc_id as string))", SPARK)
    d = read_documents(spark, sf_dir).select(
        "doc_id", "source", F.expr(hv).alias("hv"))
    win = Window.partitionBy("source").orderBy("hv", "doc_id")
    cnt = Window.partitionBy("source")
    return (d.withColumn("rn", F.row_number().over(win).cast("bigint"))
              .withColumn("n_s", F.count("*").over(cnt).cast("bigint")))


_RANKED_CTE_DUCK = f"""
    ranked as (
        select doc_id, source,
               cast(row_number() over (
                   partition by source
                   order by {K.polyhash(
                       "concat(source, '#', cast(doc_id as string))", DUCK)},
                   doc_id) as bigint) as rn,
               cast(count(*) over (partition by source) as bigint) as n_s
        from documents
    )
"""


def source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled corpus at α = 1/2: each source gets a slice
    of the target budget proportional to √(its size), then its
    lowest-hash documents fill the slice — the mixture-flattening
    resample (T5/mC4-style) that keeps giant hosts from dominating the
    training mix while still sampling them without replacement.

    Integer-exact end to end: weights are floor(√n_s) as bigint, the
    budget share is ``(T · w_s) DIV W`` with W an exact bigint sum, and
    ties never exist (the rank order is total).  The DuckDB oracle
    replays the same arithmetic, so the kept SET is hash-checked, not
    just its size.

    Scale shape at 100 TB: one shuffle keyed on ``source`` for the
    within-source rank (same skew story as source_quota_sample), plus a
    per-source count agg whose result — one row per host — is tiny and
    broadcast back.  The scalar total W is a single-row broadcast, not
    a driver collect.
    """
    r = _ranked_by_hash(spark, sf_dir)
    weights = (
        r.groupBy("source").agg(F.max("n_s").alias("n_s"))
        .withColumn("w", F.expr(
            "cast(floor(sqrt(cast(n_s as double))) as bigint)"))
    )
    totals = weights.agg(
        F.sum("w").alias("w_total"),
        F.expr(f"(sum(n_s) * {TEMP_BUDGET_NUM}) DIV {TEMP_BUDGET_DEN}")
        .alias("budget"))
    quotas = (
        weights.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.expr("least(n_s, (budget * w) DIV w_total)").alias("quota"))
    )
    return (
        r.join(F.broadcast(quotas), "source")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source", F.col("rn").alias("sample_rank"),
                "quota")
    )


def source_temperature_sample_oracle() -> str:
    return f"""
        with {_RANKED_CTE_DUCK},
        weights as (
            select source, max(n_s) as n_s,
                   cast(floor(sqrt(cast(max(n_s) as double))) as bigint)
                       as w
            from ranked group by source
        ), totals as (
            select cast(sum(w) as bigint) as w_total,
                   (cast(sum(n_s) as bigint) * {TEMP_BUDGET_NUM})
                       // {TEMP_BUDGET_DEN} as budget
            from weights
        ), quotas as (
            select source,
                   least(n_s, (budget * w) // w_total) as quota
            from weights cross join totals
        )
        select doc_id, ranked.source, rn as sample_rank, quota
        from ranked join quotas on ranked.source = quotas.source
        where rn <= quota
    """


def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/valid/test split: within every
    ``source`` stratum, documents are permuted by the salted hash rank
    and cut at EXACT 8/10 and 9/10 boundaries — so each stratum's split
    proportions are exact (``floor``-rounded), not merely expected, and
    membership is reproducible from doc_id alone given the corpus.

    All-integer comparisons (``rn·10 ≤ n_s·8``) — no float thresholds
    to disagree across engines.  Scale shape: the same single
    source-keyed shuffle as the other per-source samplers; the split
    column is then scan-local.
    """
    r = _ranked_by_hash(spark, sf_dir)
    return r.select(
        "doc_id", "source",
        F.when(F.col("rn") * 10 <= F.col("n_s") * SPLIT_TRAIN_TENTHS,
               "train")
        .when(F.col("rn") * 10 <= F.col("n_s") * SPLIT_VALID_TENTHS,
              "valid")
        .otherwise("test").alias("split"),
    )


def stratified_split_oracle() -> str:
    return f"""
        with {_RANKED_CTE_DUCK}
        select doc_id, source,
               case when rn * 10 <= n_s * {SPLIT_TRAIN_TENTHS} then 'train'
                    when rn * 10 <= n_s * {SPLIT_VALID_TENTHS} then 'valid'
                    else 'test' end as split
        from ranked
    """
