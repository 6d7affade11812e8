"""End-to-end Spark extraction job over interleaved-document tables.

Input/output table shape (BASELINE.json input_hint):
    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

``kind='pdf'`` spans carry base64 PDF bytes in ``text`` (or a ``file://``
pointer in ``media_ref``); ``kind='text'`` spans pass through
normalize/repair; ``kind='media'`` spans pass through in order.

Scale design (north rule: 10^12 docs, explicit partitioning/skew):
  * All per-document compute runs inside ONE ``mapInArrow`` pass — a
    narrow transformation with ZERO shuffles on the extraction path. Docs
    parallelize across partitions; Catalyst prunes the two input columns.
    Both sinks (extract_spans, extract_html) are folds over one span
    walker (``_walk_spans``), run through the package's one Python row
    map (``runtime.map_rows``): each batch's ``doc_id``/``spans`` come in
    as plain Python values and rows go straight back to Arrow — no
    pandas on the extraction path.
  * Skew: the reference measured a 23× latency spread between its smallest
    and largest fixture (BASELINE.md). Parallelism comes from the scan's
    splits; ``num_partitions=n`` adds one round-robin ``repartition(n)``
    in front of the map for coarse inputs. BENCH.md §4 measured it
    within the benchmark's bounds of a hand-built small/big-doc split
    on every end-to-end metric; the split scanned the input twice.
    ``arrow.maxRecordsPerBatch`` bounds batch memory so one giant doc
    can't OOM an Arrow batch.
  * Resume: output snapshot + per-partition lineage rows; a resumed run
    left-anti-joins the input against the committed output's doc_ids —
    a broadcast-able join at per-run failure scales.
"""

from __future__ import annotations

import base64
import time
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from ..runtime import map_rows

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ]
    )
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("lang", StringType()),
        StructField(
            "lang_dist",
            ArrayType(
                StructType(
                    [
                        StructField("lang", StringType()),
                        StructField("percent", DoubleType()),
                        StructField("rows", IntegerType()),
                    ]
                )
            ),
        ),
        StructField(
            "warnings",
            ArrayType(
                StructType(
                    [
                        StructField("method", StringType()),
                        StructField("detail", StringType()),
                        StructField("suggestion", StringType()),
                    ]
                )
            ),
        ),
        StructField("error", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_lines", IntegerType()),
        StructField("n_media", IntegerType()),
        StructField("extract_ms", LongType()),
        # S6 permissions probe (reference AccessPermission,
        # HTMLObject.java:87-98) — null for unencrypted docs
        StructField(
            "permission",
            StructType(
                [
                    StructField("is_encrypted", BooleanType()),
                    StructField("can_assembly", BooleanType()),
                    StructField("can_copy", BooleanType()),
                    StructField("can_print", BooleanType()),
                    StructField("can_print_degraded", BooleanType()),
                    StructField("can_modified", BooleanType()),
                    StructField("can_modify_annotations", BooleanType()),
                    StructField("can_fill_in_form", BooleanType()),
                    StructField("can_screen_reader", BooleanType()),
                ]
            ),
        ),
    ]
)

_RULESET_CACHE: dict[str, Any] = {}
_SCORER_CACHE: dict[str, Any] = {}


def _get_ruleset(config: dict | None):
    """Compile the broadcast rule config once per executor process.

    Cache key is a content digest, not ``id(config)``: a long-lived
    executor Python worker serves many jobs, and after one job's config
    dict is garbage-collected a different config can land at the same
    object id and would silently receive the stale compiled ruleset."""
    import hashlib
    import json

    from ..functions.textrules import RuleSet

    key = (
        hashlib.sha256(
            json.dumps(config, sort_keys=True, default=str).encode()
        ).hexdigest()
        if config is not None else ""
    )
    rs = _RULESET_CACHE.get(key)
    if rs is None:
        rs = RuleSet(config)
        _RULESET_CACHE[key] = rs
    return rs


def _get_scorer(sj_model, sj_threshold: float | None):
    """Resolve the W4 sentence-join scorer once per executor process —
    the Spark analogue of the reference's lazily-started, per-language
    shared worker (PDFExtract.java:1723-1754): an ARPA prefix path is
    parsed once per Python worker and cached; a scorer object (small
    model) rides the task closure. Returns None when no model is
    configured, or the string ``"missing"`` when a path was given but
    unreadable (degrades to a per-doc warning, the reference's
    model-missing behavior at PDFExtract.java:1299-1324)."""
    if sj_model is None:
        return None
    if not isinstance(sj_model, str):
        if sj_threshold is not None:
            sj_model.threshold = sj_threshold
        return sj_model
    key = f"{sj_model}|{sj_threshold}"
    sc = _SCORER_CACHE.get(key)
    if sc is None:
        from ..functions.sentencejoin import SentenceJoinScorer

        try:
            # .blm binary (fast executor load) or ARPA prefix; load()
            # applies an explicit threshold, keeps the model's otherwise
            sc = SentenceJoinScorer.load(sj_model, sj_threshold)
        except (OSError, ValueError):
            sc = "missing"
        _SCORER_CACHE[key] = sc
    return sc


def _clean(rules, text: str | None) -> str:
    """The one text-line cleaning of both sinks: whitespace collapse (P2),
    normalize (F1), repair (F2), strip."""
    from ..operators.layout import _collapse_ws

    return rules.repair_str(
        rules.normalize_str(_collapse_ws(text or ""))).strip()


def _walk_spans(spans: list | None, rules, run_pdf) -> Iterator[tuple[str, Any]]:
    """One document's spans in offset order, one ``(kind, item)`` per span:

      * ``pdf``: ``run_pdf(payload)`` — the sink's ``extract_pdf`` call,
        a ``DocResult`` — or None when the payload is missing;
      * ``html``: ``(parts, lang_attr)`` after the DOM main-content strip
        (functions/htmlextract.py) — ``parts`` are ``(kind, text,
        media_ref, lang)`` in page order: cleaned non-empty text lines
        with their reliable language ("" when unsure), and media refs;
        ``lang_attr`` is the declared ``<html lang>`` ("");
      * ``text``: the cleaned text ("" when nothing is left);
      * ``media``: the ref.

    Spans with a null offset follow the numbered ones, in input order;
    null entries and spans of any other kind are skipped."""
    from ..functions import langid
    from ..functions.htmlextract import parse_main

    items = [s for s in spans or () if s is not None]
    items.sort(key=lambda s: (s["offset"] is None, s["offset"] or 0))
    for span in items:
        kind = span["kind"]
        if kind == "pdf":
            pdf = _pdf_payload(span)
            yield kind, run_pdf(pdf) if pdf is not None else None
        elif kind == "html":
            parsed = parse_main(span["text"] or "")
            parts = []
            for k, t, m in parsed.out:
                if k == "media":
                    parts.append(("media", "", m, ""))
                elif txt := _clean(rules, t):
                    parts.append(
                        ("text", txt, "", langid.detect_reliable(txt) or ""))
            yield kind, (parts, parsed.lang_attr)
        elif kind == "text":
            yield kind, _clean(rules, span["text"])
        elif kind == "media":
            yield kind, span["media_ref"] or ""


def _extract_setup(config: dict | None, max_pages: int | None, sj_model,
                   sj_threshold: float | None, time_budget_s: float | None,
                   hooks: dict | None):
    """extract_spans' per-task setup for ``runtime.map_rows``: returns
    the row function, one OUTPUT_SCHEMA row per input document."""
    from ..operators.extract import extract_pdf

    rules = _get_ruleset(config)
    scorer = _get_scorer(sj_model, sj_threshold)
    if scorer is None and getattr(rules, "sj_models", None):
        # per-language models declared in the rule config
        # (``sentencejoin_model``, Config.java:126) — the in-process form
        # of the reference's one-worker-per-language cache (X2)
        scorers: dict[str, Any] = {}
        any_missing = False
        for lang, prefix in rules.sj_models.items():
            sc = _get_scorer(prefix, sj_threshold)
            if sc == "missing":
                any_missing = True
            elif sc is not None:
                scorers[lang] = sc
        if scorers:
            scorer = scorers
        elif any_missing:
            scorer = "missing"
    sj_missing = scorer == "missing"
    sj_scorer = None if sj_missing else scorer

    def run_pdf(pdf_bytes: bytes):
        return extract_pdf(pdf_bytes, rules, max_pages=max_pages,
                           sj_scorer=sj_scorer,
                           time_budget_s=time_budget_s, hooks=hooks)

    def one_doc(doc_id: str | None, spans) -> list[dict]:
        t0 = time.monotonic()
        row = _extract_one(_walk_spans(spans, rules, run_pdf), sj_missing)
        row["doc_id"] = doc_id
        row["extract_ms"] = int((time.monotonic() - t0) * 1000)
        return [row]

    return one_doc


def _extract_one(items, sj_missing: bool) -> dict:
    """extract_spans' fold over the walker: output spans renumbered in
    order, media passed through, counts summed; the first span with a
    language names the document's (with its distribution)."""
    from ..operators.extract import lang_distribution

    out: list[tuple[str, str, str]] = []
    lang = ""
    lang_dist: list = []
    warnings: list[tuple[str, str, str]] = []
    error = None
    n_pages = n_lines = n_media = 0
    permission = None
    if sj_missing:
        # model path configured but unreadable — reference degrades to a
        # warning and skips the stage (PDFExtract.java:1299-1324)
        warnings.append(("sentencejoin", "model not found",
                         "check sentence-join model prefix path"))
    for kind, item in items:
        if kind == "pdf":
            if item is None:
                error = "pdf: missing payload"
                warnings.append(("payload", "no base64/text payload",
                                 "provide base64 body in text"))
                continue
            if permission is None:
                permission = item.permission
            n_pages += item.n_pages
            n_lines += item.n_lines
            n_media += item.n_media
            if item.error:
                error = item.error
            if item.lang and not lang:
                lang, lang_dist = item.lang, item.lang_dist
            warnings.extend(item.warnings)
            out.extend(s[:3] for s in item.spans)
        elif kind == "html":
            # north-rule HTML tier: DOM-heuristic boilerplate strip →
            # ordered text/media spans
            parts, lang_attr = item
            counts: dict[str, int] = {}
            for k, t, m, ln in parts:
                out.append((k, t, m))
                if k == "media":
                    n_media += 1
                    continue
                n_lines += 1
                if ln:
                    counts[ln] = counts.get(ln, 0) + 1
            if not lang:
                lang, lang_dist = lang_distribution(counts)
                # declared <html lang> as fallback when no line detected
                lang = lang or lang_attr
        elif kind == "text":
            if item:
                out.append(("text", item, ""))
        else:
            out.append(("media", "", item))
    return dict(
        spans=[(k, t, m, i) for i, (k, t, m) in enumerate(out)],
        lang=lang,
        lang_dist=lang_dist,
        warnings=warnings,
        error=error,
        n_pages=n_pages,
        n_lines=n_lines,
        n_media=n_media,
        permission=permission,
    )


def _pdf_payload(span: dict) -> bytes | None:
    txt = span["text"]
    if txt:
        try:
            return base64.b64decode(txt, validate=False)
        except (ValueError, TypeError):
            return None
    ref = span["media_ref"]
    if ref and ref.startswith("file://"):
        try:
            with open(ref[7:], "rb") as fh:
                return fh.read()
        except OSError:
            return None
    return None


def _span_input(df: DataFrame) -> DataFrame:
    """The two sink inputs, pruned before the UDF, with ``doc_id`` as a
    string (a null id stays null) and ``spans`` as SPAN_TYPE structs.
    Map-typed spans (what ``spark.createDataFrame`` infers from dict
    spans, every value a string) are coerced here once, offset cast to
    int, so the walker sees one shape and offsets sort as numbers; a
    non-numeric offset becomes null."""
    df = df.select(F.col("doc_id").cast("string").alias("doc_id"), "spans")
    if isinstance(df.schema["spans"].dataType.elementType, MapType):
        df = df.withColumn("spans", F.transform("spans", lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].try_cast("int").alias("offset"))))
    return df


def extract_spans(
    df: DataFrame,
    config: dict | None = None,
    max_pages: int | None = None,
    num_partitions: int | None = None,
    sj_model=None,
    sj_threshold: float | None = None,
    time_budget_s: float | None = None,
    hooks: dict | None = None,
) -> DataFrame:
    """The extraction operator: (doc_id, spans) → OUTPUT_SCHEMA.

    Zero-shuffle narrow map when ``num_partitions`` is None; with it, one
    round-robin ``repartition(num_partitions)`` before the map. ``sj_model``
    enables the W4 sentence-join stage: an ARPA model prefix (visible on
    executors, e.g. shipped with ``spark-submit --files``; loaded once
    per Python worker) or an in-memory ``SentenceJoinScorer``.
    ``time_budget_s`` is the X4 per-doc budget (oversized docs produce
    partial spans + a timeout warning instead of stalling a task);
    ``hooks`` are the §2.8 Python callables (closure-pickled to
    executors — keep them module-level functions, not lambdas over big
    state)."""
    df = _span_input(df)
    if num_partitions is not None:
        df = df.repartition(num_partitions)
    return map_rows(df, OUTPUT_SCHEMA, lambda: _extract_setup(
        config, max_pages, sj_model, sj_threshold, time_budget_s, hooks))


def extract_spans_mirror_dedup(df: DataFrame, **kwargs) -> DataFrame:
    """Mirror-aware extraction: web corpora carry many byte-identical
    documents (mirrors, re-crawls); extract each DISTINCT payload once
    and join the result back to every carrier doc_id.

    Plan: md5(payload) → dropDuplicates (one hash-agg shuffle of the
    payload) → the normal narrow extraction over distinct payloads →
    equi-join results back on the hash. Worth it when duplicate bytes
    dominate compute (heavy mirrored PDFs); for low-duplication corpora
    the two payload shuffles cost more than the saved extraction — this
    is why it is opt-in (BENCH.md §4: payload shuffles measured ~40%
    of extraction wall at sf0.1). Per-doc timing columns reflect the
    one real extraction, shared by its mirrors."""
    # coalesce: a null spans column must hash to a real key — md5(null)
    # is null, which never equi-joins, and the doc would silently vanish
    # where plain extract_spans emits an error row for it
    hashed = df.select("doc_id", "spans").withColumn(
        "payload_md5",
        F.md5(F.coalesce(F.to_json("spans"), F.lit("null"))),
    )
    reps = (
        hashed.select(F.col("payload_md5").alias("doc_id"), "spans")
        .dropDuplicates(["doc_id"])
    )
    extracted = extract_spans(reps, **kwargs).withColumnRenamed(
        "doc_id", "payload_md5"
    )
    out = hashed.select("doc_id", "payload_md5").join(
        extracted, "payload_md5"
    )
    return out.select(*[f.name for f in OUTPUT_SCHEMA.fields])


HTML_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("html", StringType()),
        StructField("error", StringType()),
    ]
)


def _html_setup(config: dict | None, max_pages: int | None, keep_br: bool):
    """extract_html's per-task setup for ``runtime.map_rows``: returns
    the row function, one HTML_SCHEMA row per input document."""
    from ..operators.extract import extract_pdf

    rules = _get_ruleset(config)

    def run_pdf(pdf_bytes: bytes):
        return extract_pdf(pdf_bytes, rules, max_pages=max_pages,
                           keep_lines=True)

    def one_doc(doc_id: str | None, spans) -> list[dict]:
        html, err = _html_doc(_walk_spans(spans, rules, run_pdf), keep_br)
        return [{"doc_id": doc_id, "html": html, "error": err}]

    return one_doc


def _html_doc(items, keep_br: bool) -> tuple[str, str | None]:
    """extract_html's fold over the walker: every span's lines go into ONE
    rendered document, each span on pages of its own (pdf pagenos offset
    past the earlier spans'). Per-span errors are reported alongside,
    never paired with another span's html as if they were one
    extraction. Media refs are dropped, matching the reference's
    image-less HTML output (PDFToHtml.java:52 -i)."""
    from ..functions.htmlout import render_document, render_error
    from ..operators.extract import lang_distribution
    from ..operators.layout import Line

    lines: list = []
    counts: dict[str, int] = {}
    warnings: list = []
    errs: list[str] = []
    permission = None
    page_base = 0
    for kind, item in items:
        if kind == "html":
            # each main-content block becomes one paragraph on the
            # span's own "page" (the html doc has no page geometry)
            parts, lang_attr = item
            page_base += 1
            para = 0
            for k, t, _m, ln in parts:
                if k != "text":
                    continue
                para += 1
                if ln:
                    counts[ln] = counts.get(ln, 0) + 1
                lines.append(Line(
                    page_base, 0.0, float(para), 1.0, float(para) + 0.5,
                    12.0, "", "", "normal", "normal", "#000000", t, 0,
                    block=para, para=para, lang=ln,
                ))
            if not para and lang_attr:
                counts.setdefault(lang_attr, 0)
        elif kind == "text":
            if item:
                page_base += 1
                lines.append(Line(
                    page_base, 0.0, 1.0, 1.0, 1.5, 12.0, "", "", "normal",
                    "normal", "#000000", item, 0, block=1, para=1,
                ))
        elif kind == "pdf":
            if item is None or item.error:
                errs.append(item.error if item else "pdf: missing payload")
                continue
            span_max_page = 0
            for ln in item.lines or []:
                ln.pageno += page_base
                span_max_page = max(span_max_page, ln.pageno)
                lines.append(ln)
            page_base = max(page_base, span_max_page,
                            page_base + item.n_pages)
            for l, _pct, c in item.lang_dist:
                counts[l] = counts.get(l, 0) + c
            warnings.extend(item.warnings)
            if item.permission is not None:
                permission = item.permission
    err = "; ".join(errs) if errs else None
    if lines or not errs:
        # the distribution is empty when the only signal is a declared
        # <html lang> attribute (count 0, no detected lines)
        lang, lang_dist = lang_distribution(counts)
        return render_document(lines, lang, lang_dist, warnings,
                               keep_br=keep_br, permission=permission), err
    return render_error(err), err


def extract_html(df: DataFrame, config: dict | None = None,
                 max_pages: int | None = None,
                 keep_br: bool = False) -> DataFrame:
    """S7 HTML sink: (doc_id, spans) → (doc_id, html, error) in the
    reference's alignment-optimized format — the same narrow
    ``mapInArrow`` shape and span walker as extract_spans."""
    return map_rows(_span_input(df), HTML_SCHEMA,
                    lambda: _html_setup(config, max_pages, keep_br))



LINEAGE_SCHEMA = [
    "run_id", "partition_id", "doc_ids_min", "doc_ids_max",
    "n_docs", "n_ok", "n_err", "wall_ms",
]


def lineage_frame(out: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage rows (FIXTURES.md §4): the resume surface."""
    return (
        out.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.min("doc_id").alias("doc_ids_min"),
            F.max("doc_id").alias("doc_ids_max"),
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_ok"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_err"),
            F.sum("extract_ms").alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("committed_at", F.current_timestamp())
    )


def run_pipeline(
    spark: SparkSession,
    input_ref: str,
    output_ref: str,
    lineage_ref: str | None = None,
    config: dict | None = None,
    resume: bool = False,
    num_partitions: int | None = None,
    max_pages: int | None = None,
    sj_model: str | None = None,
    sj_threshold: float | None = None,
    time_budget_s: float | None = None,
    input_format: str = "table",
    dedup_mirrors: bool = False,
    input_asof: str | None = None,
) -> dict:
    """spark-submit entry: read → (resume anti-join) → extract → commit.

    ``input_format="pdf-dir"`` reads a directory of raw PDF files (the
    reference's -I/-B modes); ``"warc"`` reads web-archive files,
    one pdf span per matching HTTP response (sources/warc.py).
    ``dedup_mirrors=True`` extracts each distinct payload once (see
    extract_spans_mirror_dedup). ``input_asof`` time-travels the table
    input to a committed snapshot (TableIO.read_asof) — reprocessing an
    exact historical corpus state. Returns a summary dict (docs in/out,
    run_id)."""
    from ..sources.tableio import TableIO

    io = TableIO(spark)
    run_id = uuid.uuid4().hex
    if input_format == "pdf-dir":
        from ..sources.corpus import read_pdf_dir

        df = read_pdf_dir(spark, input_ref)
    elif input_format == "warc":
        from ..sources.warc import read_warc

        df = read_warc(spark, input_ref)
    else:
        df = (io.read_asof(input_ref, input_asof) if input_asof
              else io.read(input_ref))
    if resume and io.exists(output_ref):
        done = io.read(output_ref).select("doc_id")
        # no forced broadcast: on a resume late in a large run the
        # committed set approaches the full corpus, and a forced hint
        # bypasses AQE's size check — let AQE pick broadcast vs shuffle
        df = df.join(done, "doc_id", "left_anti")
    extract_fn = extract_spans_mirror_dedup if dedup_mirrors else extract_spans
    out = extract_fn(df, config=config, max_pages=max_pages,
                     num_partitions=num_partitions,
                     sj_model=sj_model, sj_threshold=sj_threshold,
                     time_budget_s=time_budget_s)
    out = out.persist()
    n_out = out.count()
    # Write lineage BEFORE appending the output: on resume, `out` depends
    # on a read of output_ref (the anti-join), and appending to that path
    # invalidates/recaches every cached plan built on it — a lineage pass
    # run after the append recomputes against the just-committed output
    # and anti-joins away every row (observed: empty lineage on resumed
    # runs). Failure between the two writes only over-reports lineage;
    # resume correctness keys on committed OUTPUT doc_ids.
    lin = lineage_frame(out, run_id)
    io.write(lin, lineage_ref or output_ref.rstrip("/") + "_lineage",
             run_id=run_id, mode="append")
    io.write(out, output_ref, run_id=run_id, mode="append")
    out.unpersist()
    return {"run_id": run_id, "n_docs": n_out}
