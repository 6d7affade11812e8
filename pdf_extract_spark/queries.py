"""Driver-contract query registry: every SQL-expressible operator from
SURVEY.md §2 plus the training-data-pipeline extensions, each as a
(spark_fn, duckdb_oracle_sql) pair over the driver's parquet tables.

Grouping (SURVEY.md §2 ids in parens):

  relational core on the TPC-H-ish tables
    filter_project       (P3/P4)  predicate + projection, pushdown-able
    broadcast_dim_join   (P5)     fact ⋈ broadcast dim + exact-cents agg
    modal_group          (A1/A2)  per-group argmax frequency ("mode")
    lang_mode_dist       (A3)     distribution with percent over window
    boilerplate_tokens   (A4)     tokens recurring in ≥30% of docs
    session_window       (W2)     gap-based segmentation via lag + cumsum
    run_length           (W1)     consecutive-run merge via change-flag
    topk_revenue         (sorts)  deterministic top-k with rank window
    rollup_revenue                grouping-sets rollup, exact cents
    distinct_agg                  count-distinct aggregate

  training-data pipeline (operators/dedup.py, similarity.py,
  functions/textstats.py docstrings carry the scale design)
    dedup_exact, dedup_ngram_jaccard, dedup_minhash_lsh,
    dedup_simhash, dedup_embedding_cosine, dedup_embedding_srp
    (sign-random-projection LSH — label-free embedding scale path),
    dedup_clusters (connected components over the pair graph),
    dedup_keep_canonical (the apply step: surviving corpus after
    near-dedup), dedup_incremental (new ingest batch vs corpus via the
    banded sketch join — the ingest filter),
    dedup_sketch_pairs (the materialized bucketed-sketch self-join:
    signatures hashed once at ingest, zero-Exchange candidate join),
    simhash_fingerprints,
    ann_bruteforce_topk, ann_ivf_topk, ann_ivf_trained,
    media_phash_neardup (banded hamming join over media fingerprints),
    text_token_stats, text_quality, text_gopher_quality (composite
    Gopher-rule filter), text_repetition (top-bigram ratio),
    text_langid, text_fingerprint,
    text_passage_boilerplate (cross-doc repeated-passage flagging),
    dedup_containment (prefix-filtered set-containment join — the
    near-substring duplicates jaccard misses),
    text_bm25_topk (BM25-scored retrieval, integer micro-unit scores),
    source_quota_sample (per-source quota cap, the per-host sampling
    of web-corpus curation),
    text_decontaminate (benchmark n-gram overlap vs a broadcast eval
    set — the leakage filter every pre-training corpus runs),
    text_pii_scrub (email/IPv4/phone detection + redaction, Java∩RE2
    regex subset, scan-local),
    seq_pack (concat-and-chunk packing into fixed token budgets —
    shard-local running sums, no global sort),
    source_temperature_sample (α=1/2 mixture flattening, integer-exact
    per-source quotas from a broadcast weight table),
    stratified_split (exact 8/1/1 train/valid/test cut per source
    stratum, hash-permuted, all-integer thresholds),
    dedup_ingest_lifecycle (bootstrap → probe → append → re-probe: the
    full incremental-ingest loop, oracle-pinned end to end),
    bpe_merges / bpe_encode_stats (distributed BPE merge training over
    the corpus vocabulary + the per-document subword-fertility apply
    step — functions/bpe.py),
    text_exact_substring_spans / text_remove_repeated_spans (Lee-et-al
    exact-substring dedup as positional k-gram marking: maximal
    repeated token spans + the span-removal rewrite),
    text_approx_distinct (deterministic cross-engine HyperLogLog —
    engine-native approx-distinct builtins are not oracle-able),
    text_unigram_surprisal (CCNet-style corpus-LM quality scoring in
    integer micro-nats)

  scalar-function analogues (SURVEY.md §2.3)
    text_normalize       (F1/F2) ordered normalize/repair chain
    text_context_words   (F4)    first/last ≤6-word join contexts

  non-SQL-expressible (rows-only check; no oracle)
    extract_spans_synth  the flagship PDF→span pipeline on a deterministic
                         synthetic interleaved corpus (golden-tested
                         separately against the reference fixtures)

Column names are aliased identically on both sides — the driver hash
compares values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import bpe, curation, textstats
from .operators import dedup, multimodal, similarity

BOILER_DOC_FRAC = 0.30
SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds
TOPK_USERS = 10

#: timezone-proof event time in microseconds: wall-clock delta from a fixed
#: anchor (events are TIMESTAMP_NTZ; epoch conversions would drag in the
#: session timezone and break the cross-engine value hash)
_US_SPARK = ("timestampdiff(MICROSECOND, "
             "timestamp_ntz'2024-01-01 00:00:00', ts)")
_US_DUCK = "date_diff('microseconds', timestamp '2024-01-01', ts)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational core
# ---------------------------------------------------------------------------

def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 analogue: scan-level predicate + column pruning. The filter
    and the 4-column ReadSchema both reach the parquet scan (verified via
    explain in tests)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 45) & (F.col("l_discount") <= 0.02))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


FILTER_PROJECT_SQL = """
    select l_orderkey, l_linenumber, l_quantity, l_extendedprice
    from lineitem
    where l_quantity >= 45 and l_discount <= 0.02
"""


def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 analogue: fact ⋈ small dim with an explicit broadcast hint — no
    shuffle of the fact side. Money math in exact integer cents (doubles
    summed in arbitrary partition order would not cross-check)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


BROADCAST_DIM_JOIN_SQL = """
    select p_brand,
           cast(count(*) as bigint) as n_items,
           cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                         as bigint)) as bigint) as revenue_cents
    from lineitem join part on l_partkey = p_partkey
    group by p_brand
"""


def modal_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 analogue: per-source modal n_chars bucket — sort-free argmax
    (count desc, bucket asc tie-break), the reference's getMaxCount
    semantics (PDFExtract.java:1509-1526) as a rank window."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "bucket", F.expr("n_chars DIV 50")
    )
    counts = docs.groupBy("source", "bucket").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("bucket").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("bucket").alias("modal_bucket"), "cnt")
    )


MODAL_GROUP_SQL = """
    with c as (
        select source, (n_chars // 50) as bucket,
               cast(count(*) as bigint) as cnt
        from documents group by 1, 2
    )
    select source, bucket as modal_bucket, cnt from (
        select source, bucket, cnt,
               row_number() over (partition by source
                                  order by cnt desc, bucket asc) as rn
        from c
    ) where rn = 1
"""


def lang_mode_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: language distribution with percent = n*100/total (getLangList,
    PDFExtract.java:1636-1666) via an unpartitioned window sum."""
    counts = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_rows"))
    )
    total = Window.partitionBy()
    return counts.select(
        "lang", "n_rows",
        F.round(F.col("n_rows") * 100.0 / F.sum("n_rows").over(total), 6)
        .alias("percent"),
    )


LANG_MODE_DIST_SQL = """
    with c as (
        select lang, cast(count(*) as bigint) as n_rows
        from documents group by 1
    )
    select lang, n_rows,
           round(n_rows * 100.0 / (sum(n_rows) over ()), 6) as percent
    from c
"""


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets breadth (absent in the reference, SURVEY.md §2.9):
    rollup over (region, nation) with exact-cents revenue and explicit
    grouping-level flags — subtotal rows coalesce to 'ALL' so the
    cross-engine hash is null-free."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = F.expr(
        "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")
    joined = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_items"), F.sum(cents).alias("revenue_cents"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_items", "revenue_cents",
        )
    )


ROLLUP_REVENUE_SQL = """
    select coalesce(r_name, 'ALL') as region,
           coalesce(n_name, 'ALL') as nation,
           cast(count(*) as bigint) as n_items,
           cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                         as bigint)) as bigint) as revenue_cents
    from lineitem
    join supplier on l_suppkey = s_suppkey
    join nation on s_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by rollup(r_name, n_name)
"""


def boilerplate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: frequency boilerplate — tokens present in ≥30% of documents
    (the SQL-checkable form of the per-doc repeated-line strip in
    operators/layout.py boilerplate_indices)."""
    docs = _t(spark, sf_dir, "documents")
    # the doc-count threshold is a 1-row aggregate cross-joined in (AQE
    # broadcasts it) — NOT a driver-side .count(), which would cost a
    # second full scan of the corpus at query-construction time
    total = docs.agg(F.count("*").alias("n_total"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    return (
        tok.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .crossJoin(total)
        .filter(F.col("n_docs") >= BOILER_DOC_FRAC * F.col("n_total"))
        .select("token", "n_docs")
    )


BOILERPLATE_TOKENS_SQL = f"""
    with tok as (
        select distinct doc_id, t.token
        from documents, unnest(string_split(text, ' ')) as t(token)
        where t.token <> ''
    )
    select token, cast(count(*) as bigint) as n_docs
    from tok group by token
    having count(*) >= {BOILER_DOC_FRAC} * (select count(*) from documents)
"""


def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 analogue: gap-based segmentation — lag() marks a break, a
    running sum turns breaks into segment ids (exactly the paragraph-
    marker cumsum of SURVEY.md §2.5 W2). Microsecond integers only, so
    the oracle cross-checks exactly."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr(_US_SPARK).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = (
        ev.withColumn("prev_us", F.lag("us").over(w))
        .withColumn(
            "brk",
            (F.col("prev_us").isNull()
             | (F.col("us") - F.col("prev_us") > SESSION_GAP_US)).cast("int"),
        )
        .withColumn("sess_id", F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


SESSION_WINDOW_SQL = f"""
    with ev as (
        select user_id, event_id, {_US_DUCK} as us from events
    ), marked as (
        select user_id, event_id, us,
               case when lag(us) over w is null
                         or us - lag(us) over w > {SESSION_GAP_US}
                    then 1 else 0 end as brk
        from ev
        window w as (partition by user_id order by us, event_id)
    ), sess as (
        select user_id, us,
               cast(sum(brk) over (partition by user_id order by us, event_id
                                   rows unbounded preceding) as bigint)
                   as sess_id
        from marked
    )
    select user_id, sess_id, cast(count(*) as bigint) as n_events,
           max(us) - min(us) as duration_us
    from sess group by user_id, sess_id
"""


def run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 analogue: merge consecutive equal-key rows into runs via the
    change-flag + cumsum trick (the Spark form of the reference's
    same-row merge loop, PDFExtract.java:790-852)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.expr(_US_SPARK).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    runs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn(
            "chg",
            (F.col("prev_type").isNull()
             | (F.col("event_type") != F.col("prev_type"))).cast("int"),
        )
        .withColumn("run_id", F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "run_id")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_runs"), F.max("run_len").alias("max_run_len")
    )


RUN_LENGTH_SQL = f"""
    with ev as (
        select user_id, event_id, event_type, {_US_DUCK} as us from events
    ), marked as (
        select user_id, event_type, us, event_id,
               case when lag(event_type) over w is null
                         or event_type <> lag(event_type) over w
                    then 1 else 0 end as chg
        from ev
        window w as (partition by user_id order by us, event_id)
    ), runs as (
        select user_id,
               sum(chg) over (partition by user_id order by us, event_id
                              rows unbounded preceding) as run_id
        from marked
    ), per_run as (
        select user_id, run_id, cast(count(*) as bigint) as run_len
        from runs group by user_id, run_id
    )
    select user_id, cast(count(*) as bigint) as n_runs,
           max(run_len) as max_run_len
    from per_run group by user_id
"""


def topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-k: rank window with explicit tie-break (value
    cents desc, user_id asc) — not LIMIT, whose ties are nondeterministic."""
    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)"))
        .alias("total_cents")
    )
    w = Window.orderBy(F.col("total_cents").desc(), F.col("user_id").asc())
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK_USERS)
    )


TOPK_REVENUE_SQL = f"""
    with totals as (
        select user_id,
               cast(sum(cast(round(value * 100) as bigint)) as bigint)
                   as total_cents
        from events group by user_id
    )
    select user_id, total_cents, rank from (
        select user_id, total_cents,
               cast(row_number() over (order by total_cents desc,
                                       user_id asc) as int) as rank
        from totals
    ) where rank <= {TOPK_USERS}
"""


def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent in the reference, SURVEY.md §2.9 —
    included for engine completeness)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


DISTINCT_AGG_SQL = """
    select event_type, cast(count(*) as bigint) as n_events,
           cast(count(distinct user_id) as bigint) as n_users
    from events group by event_type
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 analogue: ordered scalar normalize chain (the SQL-checkable
    form of RuleSet.normalize_str/repair_str — lowercase, fold
    non-alphanumerics, collapse runs, trim). Patterns restricted to the
    Java-regex ∩ RE2 common dialect so the oracle cross-checks exactly."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            "  +", " ",
        )
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", norm.alias("norm_text"))
        .withColumn("norm_len", F.length("norm_text"))
    )


TEXT_NORMALIZE_SQL = """
    select doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g')) as norm_text,
           cast(length(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', ' ', 'g'), '  +', ' ', 'g'))) as int) as norm_len
    from documents
"""


def text_context_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: first/last ≤6-word KenLM context snippets per document
    (getFirstWords/getLastWords, PDFExtract.java:1671-1699 — the inputs
    the W4 scorer sees)."""
    words = F.split(F.col("text"), " ")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(words, 1, 6), " ").alias("first_words"),
        F.array_join(
            F.slice(words, F.greatest(F.size(words) - 5, F.lit(1)), 6), " "
        ).alias("last_words"),
    )


TEXT_CONTEXT_WORDS_SQL = """
    with w as (
        select doc_id, string_split(text, ' ') as words from documents
    )
    select doc_id,
           array_to_string(list_slice(words, 1, least(6, len(words))), ' ')
               as first_words,
           array_to_string(list_slice(words, greatest(len(words) - 5, 1),
                                      len(words)), ' ') as last_words
    from w
"""


# ---------------------------------------------------------------------------
# flagship extraction (non-SQL; rows-only check)
# ---------------------------------------------------------------------------

def extract_spans_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship operator: interleaved (doc_id, spans) corpus →
    extracted spans. Synthetic deterministic corpus (sources/corpus.py);
    golden fixture parity is covered by tests/test_golden.py."""
    from .plans.pipeline import extract_spans
    from .sources.corpus import corpus_dataframe

    docs = corpus_dataframe(spark, 48)
    out = extract_spans(docs)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        "n_pages", "n_lines", "n_media", "lang",
    )


def extract_html_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HTML tier end-to-end: documents wrapped in a chrome-bearing
    page template (nav + sidebar + footer around the text) flow through
    the DOM-heuristic boilerplate strip as kind='html' spans; output
    counts prove the chrome is gone and the content survives. Rows-only
    check (DOM parsing is not SQL-expressible)."""
    from .plans.pipeline import SPAN_TYPE, extract_spans
    from pyspark.sql.types import StringType, StructField, StructType

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    page = F.concat(
        F.lit('<html><head><title>t</title></head><body>'
              '<nav><a href="/">Home</a><a href="/x">More</a></nav>'
              '<div class="sidebar"><p>Subscribe to the newsletter now '
              'for updates!</p></div><article><p>'),
        F.col("text"),
        F.lit('</p></article><footer><p>Copyright notice, all rights '
              'reserved worldwide.</p></footer></body></html>'),
    )
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("html").alias("kind"),
                page.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).cast(SPAN_TYPE).alias("spans"),
    )
    out = extract_spans(wrapped)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        "n_lines", "lang",
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "filter_project": filter_project,
    "broadcast_dim_join": broadcast_dim_join,
    "modal_group": modal_group,
    "lang_mode_dist": lang_mode_dist,
    "boilerplate_tokens": boilerplate_tokens,
    "session_window": session_window,
    "run_length": run_length,
    "topk_revenue": topk_revenue,
    "rollup_revenue": rollup_revenue,
    "distinct_agg": distinct_agg,
    "dedup_exact": dedup.exact_duplicates,
    "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs,
    "dedup_containment": dedup.containment_pairs,
    "dedup_minhash_lsh": dedup.minhash_lsh_pairs,
    "dedup_simhash": dedup.simhash_pairs,
    "dedup_embedding_cosine": dedup.embedding_neardup_pairs,
    "dedup_clusters": dedup.duplicate_clusters,
    "dedup_incremental": dedup.incremental_dedup_pairs,
    "dedup_sketch_pairs": dedup.sketch_pairs,
    "dedup_ingest_lifecycle": dedup.ingest_lifecycle,
    "text_gopher_quality": textstats.gopher_quality,
    "text_repetition": textstats.repetition_stats,
    "text_passage_boilerplate": textstats.passage_boilerplate,
    "text_exact_substring_spans": textstats.exact_substring_spans,
    "text_remove_repeated_spans": textstats.remove_repeated_spans,
    "text_approx_distinct": textstats.approx_distinct_tokens,
    "text_unigram_surprisal": textstats.unigram_surprisal,
    "dedup_embedding_srp": similarity.srp_neardup_pairs,
    "dedup_keep_canonical": dedup.dedup_keep_canonical,
    "simhash_fingerprints": dedup.simhash_fingerprints,
    "ann_bruteforce_topk": similarity.ann_bruteforce_topk,
    "ann_ivf_topk": similarity.ann_ivf_topk,
    "ann_ivf_trained": similarity.ann_ivf_trained,
    "embedding_kmeans_assign": similarity.embedding_kmeans_assign,
    "text_token_stats": textstats.token_stats,
    "text_quality": textstats.quality_scores,
    "text_langid": textstats.langid_heuristic,
    "text_fingerprint": textstats.fingerprints,
    "text_bm25_topk": textstats.bm25_topk,
    "source_quota_sample": textstats.source_quota_sample,
    "text_decontaminate": curation.decontaminate,
    "text_pii_scrub": curation.pii_scrub,
    "seq_pack": curation.seq_pack,
    "source_temperature_sample": curation.source_temperature_sample,
    "stratified_split": curation.stratified_split,
    "bpe_merges": bpe.bpe_merges,
    "bpe_encode_stats": bpe.bpe_encode_stats,
    "text_normalize": text_normalize,
    "text_context_words": text_context_words,
    "multimodal_features": multimodal.multimodal_features,
    "multimodal_resize": multimodal.multimodal_resize,
    "multimodal_frames": multimodal.multimodal_frames,
    "media_phash_neardup": multimodal.media_phash_neardup,
    "extract_spans_synth": extract_spans_synth,
    "extract_html_synth": extract_html_synth,
}

ORACLES: dict[str, str] = {
    "filter_project": FILTER_PROJECT_SQL,
    "broadcast_dim_join": BROADCAST_DIM_JOIN_SQL,
    "modal_group": MODAL_GROUP_SQL,
    "lang_mode_dist": LANG_MODE_DIST_SQL,
    "boilerplate_tokens": BOILERPLATE_TOKENS_SQL,
    "session_window": SESSION_WINDOW_SQL,
    "run_length": RUN_LENGTH_SQL,
    "topk_revenue": TOPK_REVENUE_SQL,
    "rollup_revenue": ROLLUP_REVENUE_SQL,
    "distinct_agg": DISTINCT_AGG_SQL,
    "dedup_exact": dedup.exact_duplicates_oracle(),
    "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs_oracle(),
    "dedup_containment": dedup.containment_pairs_oracle(),
    "dedup_minhash_lsh": dedup.minhash_lsh_pairs_oracle(),
    "dedup_simhash": dedup.simhash_pairs_oracle(),
    "dedup_embedding_cosine": dedup.embedding_neardup_pairs_oracle(),
    "dedup_clusters": dedup.duplicate_clusters_oracle(),
    "dedup_incremental": dedup.incremental_dedup_pairs_oracle(),
    "dedup_ingest_lifecycle": dedup.ingest_lifecycle_oracle(),
    "text_exact_substring_spans": textstats.exact_substring_spans_oracle(),
    "text_remove_repeated_spans": textstats.remove_repeated_spans_oracle(),
    "text_approx_distinct": textstats.approx_distinct_tokens_oracle(),
    "text_unigram_surprisal": textstats.unigram_surprisal_oracle(),
    "bpe_merges": bpe.bpe_merges_oracle(),
    "bpe_encode_stats": bpe.bpe_encode_stats_oracle(),
    # the sketch-table path must reproduce the in-plan LSH row set
    # exactly — same oracle SQL, corpus hashed once at write time
    "dedup_sketch_pairs": dedup.minhash_lsh_pairs_oracle(),
    "text_gopher_quality": textstats.gopher_quality_oracle(),
    "text_repetition": textstats.repetition_stats_oracle(),
    "text_passage_boilerplate": textstats.passage_boilerplate_oracle(),
    "dedup_embedding_srp": similarity.srp_neardup_pairs_oracle(),
    "dedup_keep_canonical": dedup.dedup_keep_canonical_oracle(),
    "simhash_fingerprints": dedup.simhash_fingerprints_oracle(),
    "ann_bruteforce_topk": similarity.ann_bruteforce_topk_oracle(),
    "ann_ivf_topk": similarity.ann_ivf_topk_oracle(),
    "ann_ivf_trained": similarity.ann_ivf_trained_oracle(),
    "embedding_kmeans_assign": similarity.embedding_kmeans_assign_oracle(),
    "text_token_stats": textstats.token_stats_oracle(),
    "text_quality": textstats.quality_scores_oracle(),
    "text_langid": textstats.langid_heuristic_oracle(),
    "text_fingerprint": textstats.fingerprints_oracle(),
    "text_bm25_topk": textstats.bm25_topk_oracle(),
    "source_quota_sample": textstats.source_quota_sample_oracle(),
    "text_decontaminate": curation.decontaminate_oracle(),
    "text_pii_scrub": curation.pii_scrub_oracle(),
    "seq_pack": curation.seq_pack_oracle(),
    "source_temperature_sample":
        curation.source_temperature_sample_oracle(),
    "stratified_split": curation.stratified_split_oracle(),
    "text_normalize": TEXT_NORMALIZE_SQL,
    "text_context_words": TEXT_CONTEXT_WORDS_SQL,
    "multimodal_features": multimodal.multimodal_features_oracle(),
    "multimodal_resize": multimodal.multimodal_resize_oracle(),
    "multimodal_frames": multimodal.multimodal_frames_oracle(),
    "media_phash_neardup": multimodal.media_phash_neardup_oracle(),
    # extract_spans_synth: non-SQL-expressible → rows-only check
}
