"""Per-document extraction: PDF bytes → ordered output spans.

This is the function the Arrow-batched pipeline UDF applies to each
document row. Stage order mirrors the reference lifecycle
(PDFExtract.java:209-333: convert → parse → repairAndAdjustment →
languageId → sentenceJoin → finalRepair → generateOutput), re-expressed
over in-memory structures:

  parse (sources/pdfparse) → interpret (functions/textops) →
  W5 XY-cut blocks → W1 line merge → P3/P4 filters → A4 boilerplate →
  F1 normalize → W2 paragraphs → A3 langid → F1 per language → W3 rule
  joins → W4 model joins → F2 repair → span assembly (text lines in
  reading order, media refs interleaved).

Vectorization note: the per-doc passes are sequential over at most a few
hundred lines of plain Python lists; the doc-level regex chains
(normalize/repair) run once per line behind one combined gate regex
(functions/textrules.py).
"""

from __future__ import annotations

import time
import zlib
from dataclasses import dataclass, field

import numpy as np

from ..functions import langid
from ..functions.textops import interpret_page
from ..functions.textrules import RuleSet
from ..sources.pdfparse import PDFDocument, PDFParseError
from . import layout
from .layout import Line


@dataclass
class DocResult:
    spans: list[tuple[str, str, str, int]] = field(default_factory=list)  # kind,text,media_ref,offset
    lang: str = ""
    lang_dist: list[tuple[str, float, int]] = field(default_factory=list)  # lang,percent,rows
    warnings: list[tuple[str, str, str]] = field(default_factory=list)  # method,detail,suggestion
    error: str | None = None
    n_pages: int = 0
    n_lines: int = 0
    n_media: int = 0
    lines: list[Line] | None = None  # kept only when keep_lines=True (S7)
    permission: dict | None = None  # S6 AccessPermission booleans (encrypted docs)


_DEFAULT_RULES = RuleSet()


def lang_distribution(
        counts: dict[str, int]) -> tuple[str, list[tuple[str, float, int]]]:
    """Doc language and ``(lang, percent, rows)`` distribution from
    per-line language counts, by falling count, ties by language code
    (the reference's ``<languages>`` block, PDFExtract.java:1283-1285).
    A zero count (a declared language with no detected line) can name
    the language but gives no distribution when nothing else counted."""
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    lang = ordered[0][0] if ordered else ""
    return lang, ([(l, c * 100.0 / total, c) for l, c in ordered]
                  if total else [])


def extract_pdf(pdf_bytes: bytes, rules: RuleSet | None = None,
                max_pages: int | None = None,
                keep_lines: bool = False,
                sj_scorers: dict | None = None,
                time_budget_s: float | None = None) -> DocResult:
    """Extract one PDF into ordered (kind, text, media_ref) spans.

    ``keep_lines=True`` retains the processed layout lines on the result
    for the S7 HTML renderer (functions/htmlout.py). ``sj_scorers`` maps
    a language (or ``"common"``, for every other language) to its
    :class:`~..functions.sentencejoin.SentenceJoinScorer` — the W4
    model-based join stage (reference: sentenceJoin,
    PDFExtract.java:1092-1216), applied after the W3 rule joins — or to
    None when that language's model failed to load; the result then
    carries a ``sentencejoin`` warning. Like every warning here it is the
    span's: a document's PDF spans are extracted one by one, each with
    its own language's scorer, so a document whose spans differ in
    language can have a model for one span and not another.

    ``time_budget_s`` is the X4 per-document budget (the reference kills
    poppler after ``-t`` seconds, default 30, PDFToHtml.java:22,135-139 —
    and loses the whole doc; we stop interpreting further pages and keep
    what's extracted, with a ``timeout`` warning).
    """
    rules = rules or _DEFAULT_RULES
    res = DocResult()
    doc = None
    try:
        doc = PDFDocument(pdf_bytes, max_pages=max_pages)
        res.permission = doc.permissions  # S6 probe (encrypted docs only)
        pages = doc.pages()
    except (PDFParseError, RecursionError, MemoryError, ValueError) as exc:
        res.error = f"parse: {exc}"
        if doc is not None:
            res.permission = doc.permissions
        return res
    if not pages:
        res.error = "parse: no pages"
        return res
    res.n_pages = len(pages)

    font_cache: dict = {}
    lines: list[Line] = []
    media: list = []
    page_heights: dict[int, float] = {}
    deadline = (time.monotonic() + time_budget_s) if time_budget_s else None
    for p in pages:
        if deadline is not None and time.monotonic() > deadline:
            res.warnings.append((
                "timeout",
                f"time budget {time_budget_s}s exhausted after "
                f"{p.pageno - 1}/{len(pages)} pages",
                "partial extraction; raise time_budget_s",
            ))
            break
        page_heights[p.pageno] = p.height
        try:
            runs, medias = interpret_page(
                doc, p.pageno, p.content, p.resources,
                (0.0, 0.0, p.width, p.height), p.rotate, font_cache,
            )
        except (RecursionError, MemoryError, ValueError, zlib.error) as exc:
            res.warnings.append(("interpret", f"page {p.pageno}: {exc}", "page skipped"))
            continue
        media.extend(medias)
        runs = [r for r in runs if r.text.strip()]
        if not runs:
            continue
        # W5 first, on runs: XY-cut blocks so the W1 merge cannot bridge a
        # column gutter (< its 200 px gap bound)
        nr = len(runs)
        left = np.fromiter((r.left for r in runs), dtype=np.float64, count=nr)
        width = np.fromiter((r.width for r in runs), dtype=np.float64, count=nr)
        top = np.fromiter((r.top for r in runs), dtype=np.float64, count=nr)
        height = np.fromiter((r.height for r in runs), dtype=np.float64, count=nr)
        page_lines: list[Line] = []
        for bi, leaf in enumerate(
            layout.xy_cut_leaves(left, left + width, top, top + height)
        ):
            page_lines.extend(
                layout.runs_to_lines([runs[k] for k in leaf], p.pageno, bi)
            )
        # P2 islink: mark lines under /Annots Link rects (poppler tags
        # these with <a>; islink pattern PDFExtract.java:70,1459-1461)
        if p.link_rects:
            _mark_links(page_lines, p.link_rects, p.height, p.rotate)
        lines.extend(layout.filter_offpage(page_lines, p.width, p.height))

    # A4 boilerplate strip (doc-level frequency over page edge bands)
    if lines:
        drop = layout.boilerplate_indices(lines, page_heights)
        if drop:
            lines = [ln for i, ln in enumerate(lines) if i not in drop]

    # F1 normalize (common rules); lines it empties are dropped
    if lines:
        lines = _normalize_lines(lines, rules)

    # A2 modal-style restyle of link lines: the reference counts lines
    # per fontspec class, takes the argmax, and restyles link-merged
    # lines to the document's modal style (PDFExtract.java:743-785,
    # 822-826) — sort-free argmax with deterministic tie-break
    if lines and any(ln.islink for ln in lines):
        counts: dict[tuple, int] = {}
        for ln in lines:
            k = (ln.font, ln.family, ln.weight, ln.style)
            counts[k] = counts.get(k, 0) + 1
        modal = max(sorted(counts), key=lambda k: counts[k])
        for ln in lines:
            if ln.islink:
                ln.font, ln.family, ln.weight, ln.style = modal

    # W2 paragraph segmentation per page (lines are already in reading order)
    if lines:
        pid = 0
        start = 0
        for i in range(1, len(lines) + 1):
            if i == len(lines) or lines[i].pageno != lines[start].pageno:
                pid = layout.segment_paragraphs(lines[start:i], pid)
                start = i

    # A3 language id per line (gated), doc majority + distribution
    if lines:
        counts: dict[str, int] = {}
        for ln in lines:
            ln.lang = langid.detect_reliable(ln.text) or ""
            if ln.lang:
                counts[ln.lang] = counts.get(ln.lang, 0) + 1
        res.lang, res.lang_dist = lang_distribution(counts)
        # then F1 again with each line's own language chain
        # (PDFExtract.java:1054-1063)
        for ln in lines:
            ln.lang = ln.lang or res.lang
        lines = _normalize_lines(lines, rules, [ln.lang for ln in lines])

    # W3 rule-based join within paragraphs (cascading, first-match-wins)
    if lines:
        lines = _join_lines(lines, rules)

    # W4 model-based sentence join (optional; reference sentenceJoin
    # stage PDFExtract.java:289 — runs after languageId, before repair)
    # with the doc language's scorer, else the common one — the
    # in-process form of the reference's lazily-spawned one-worker-per-
    # language cache (PDFExtract.java:1723-1754, X2)
    if lines and sj_scorers:
        key = res.lang if res.lang in sj_scorers else "common"
        if key in sj_scorers:
            if sj_scorers[key] is None:
                # configured model unreadable — the reference warns and
                # skips the stage (PDFExtract.java:1299-1324)
                res.warnings.append(("sentencejoin", "model not found",
                                     "check sentence-join model prefix path"))
            else:
                lines = _sentence_join(lines, sj_scorers[key])

    # F2 final repair — common, then the line's own language
    if lines:
        texts = rules.repair_series([ln.text for ln in lines],
                                    [ln.lang for ln in lines])
        for ln, t in zip(lines, texts):
            ln.text = t

    res.n_lines = len(lines)
    res.n_media = len(media)
    res.spans = _assemble_spans(lines, media)
    if keep_lines:
        res.lines = lines
    return res


def _normalize_lines(lines: list[Line], rules: RuleSet,
                     langs: list[str] | None = None) -> list[Line]:
    """F1 over the lines (common chain, or each line's language in
    ``langs``), stripped; the lines it empties are dropped."""
    texts = rules.normalize_series([ln.text for ln in lines], langs)
    kept: list[Line] = []
    for ln, t in zip(lines, texts):
        ln.text = t.strip()
        if ln.text:
            kept.append(ln)
    return kept


def _join_lines(lines: list[Line], rules: RuleSet) -> list[Line]:
    """W3: cascade-join consecutive lines inside a paragraph
    (PDFExtract.java:919-999 — absolute_eof blocks, first join rule wins,
    joined line re-compared to its new successor)."""
    out: list[Line] = []
    start = 0
    n = len(lines)
    for i in range(1, n + 1):
        if i < n and lines[i].pageno == lines[start].pageno and lines[i].para == lines[start].para:
            continue
        # paragraph group [start, i)
        grp = lines[start:i]
        k = 0
        while k < len(grp) - 1:
            cur, nxt = grp[k], grp[k + 1]
            lang = cur.lang if cur.lang == nxt.lang else None
            if rules.is_absolute_eof(cur.text, nxt.text, lang):
                k += 1
                continue
            ch = rules.join_char(cur.text, nxt.text, lang)
            if ch is None:
                k += 1
                continue
            if ch == "" and cur.text.endswith("-"):
                cur.text = cur.text[:-1] + nxt.text  # hyphen-split word
            else:
                cur.text = cur.text + ch + nxt.text
            cur.right = max(cur.right, nxt.right)
            cur.bottom = max(cur.bottom, nxt.bottom)
            del grp[k + 1]
        out.extend(grp)
        start = i
    return out


def _mark_links(page_lines: list[Line], link_rects, page_height: float,
                rotate: int) -> None:
    """P2: set islink on lines overlapping a Link annotation rect.
    Rects are PDF user space (bottom-left origin); lines are device
    space (top-left). Rotated pages are skipped (poppler's link
    detection also degrades there)."""
    if rotate != 0:
        return
    for ln in page_lines:
        h = max(ln.bottom - ln.top, 1.0)
        for x0, y0, x1, y1 in link_rects:
            top, bottom = page_height - y1, page_height - y0
            if (ln.left < x1 and ln.right > x0
                    and min(ln.bottom, bottom) - max(ln.top, top) >= 0.5 * h):
                ln.islink = True
                break


def _sentence_join(lines: list[Line], scorer) -> list[Line]:
    """W4: model-scored join of adjacent lines within a page.

    Mirrors the reference's per-page backward walk
    (PDFExtract.java:1758-1790): for each adjacent pair the ≤6-word
    contexts are scored; on a join the right line is folded into the
    left with a single space and, when the pair straddled a paragraph
    boundary, the paragraphs merge (the reference's marker-cleanup
    retry pass, PDFExtract.java:1161-1204, removes the paraMarker the
    same way). Language chunking (PDFExtract.java:1121-1146): only
    same-language pairs are considered."""
    out = list(lines)
    i = len(out) - 2
    while i >= 0:
        cur, nxt = out[i], out[i + 1]
        if (cur.pageno == nxt.pageno
                and (cur.lang == nxt.lang or not cur.lang or not nxt.lang)
                and scorer.should_join_texts(cur.text, nxt.text)):
            merged_para = cur.para
            cur.text = cur.text.strip() + " " + nxt.text.strip()
            cur.right = max(cur.right, nxt.right)
            cur.bottom = max(cur.bottom, nxt.bottom)
            old_para = nxt.para
            del out[i + 1]
            if old_para != merged_para:
                for ln in out:
                    if ln.pageno == cur.pageno and ln.para == old_para:
                        ln.para = merged_para
        i -= 1
    return out


def _assemble_spans(lines: list[Line], media: list) -> list[tuple[str, str, str, int]]:
    """O1: interleave text lines (reading order) and media refs (by page
    position) into the ordered output span sequence."""
    spans: list[tuple[str, str, str]] = []
    media_by_page: dict[int, list] = {}
    for m in sorted(media, key=lambda m: (m.pageno, m.top, m.left)):
        media_by_page.setdefault(m.pageno, []).append(m)

    pages = sorted({ln.pageno for ln in lines} | set(media_by_page.keys()))
    for pageno in pages:
        pl = [ln for ln in lines if ln.pageno == pageno]
        pm = media_by_page.get(pageno, [])
        mi = 0
        for ln in pl:
            while mi < len(pm) and pm[mi].top < ln.top:
                spans.append(("media", "", pm[mi].ref))
                mi += 1
            spans.append(("text", ln.text, ""))
        while mi < len(pm):
            spans.append(("media", "", pm[mi].ref))
            mi += 1
    return [(k, t, m, i) for i, (k, t, m) in enumerate(spans)]
