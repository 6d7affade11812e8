"""Per-page layout passes: line building (W1), XY-cut reading order (W5),
boilerplate strip (A4), paragraph segmentation (W2).

List/numpy implementations invoked per document from the Arrow-batched
pipeline UDF (plans/pipeline.py). Per-document line counts are small
(hundreds), so the passes are plain sequential code.

Reference semantics reproduced:
  * W1 same-row merge — tops equal within ±8 px, horizontal gap < 200 px
    (isMergeTop PDFExtract.java:1603-1608, isEquals ±8 px :1562-1568); the
    longer fragment donates the line's font (:831-836).
  * W5 reading order — the reference inherits poppler's order; our
    from-scratch tokenizer gets raw content-stream order, so we sort with a
    recursive XY-cut (x-gutter first for column order, then y-bands).
  * A4 boilerplate — the reference only declares isHeader/isFooter stubs
    (PDFExtract.js:24-34); we implement the frequency heuristic the north
    rule mandates: normalized lines recurring on ≥ max(2, 30%) of pages
    inside the top/bottom 15% bands, plus page-number patterns.
  * W2 paragraph breaks — line spacing outside 0.7–1.3× the running
    leading, gap > 1.5×(h1+h2), indent shift > 100 px, short line ≤ 10
    chars, font size/family change (isTooFar PDFExtract.java:1574-1598,
    segmentation loop :857-914).
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np

# reference constants
TOP_TOLERANCE = 8.0       # isEquals fuzz, PDFExtract.java:1562-1568
MERGE_MAX_GAP = 200.0     # isMergeTop gap bound, PDFExtract.java:1603-1608
PARA_LEADING_HI = 1.3     # isTooFar, PDFExtract.java:1574-1598
PARA_LEADING_LO = 0.7
PARA_HEIGHT_GAP = 1.5
PARA_INDENT = 100.0
PARA_SHORT_LEN = 10
BOILER_BAND = 0.15        # top/bottom page fraction scanned for boilerplate
BOILER_MIN_PAGES = 2
BOILER_PAGE_FRAC = 0.30


class Line:
    __slots__ = (
        "pageno", "left", "top", "right", "bottom", "size", "font", "family",
        "weight", "style", "color", "text", "angle", "block", "para", "lang",
        "islink",
    )

    def __init__(self, pageno, left, top, right, bottom, size, font, family,
                 weight, style, color, text, angle, block=0, para=0, lang="",
                 islink=False):
        self.pageno = pageno
        self.left = left
        self.top = top
        self.right = right
        self.bottom = bottom
        self.size = size
        self.font = font
        self.family = family
        self.weight = weight
        self.style = style
        self.color = color
        self.text = text
        self.angle = angle
        self.block = block
        self.para = para
        self.lang = lang
        self.islink = islink


_WS_RE = re.compile(r"\s{2,}")


def _collapse_ws(text: str) -> str:
    """Reference getTextObject: &#160;→space, collapse 2+ whitespace
    (PDFExtract.java:1438-1470)."""
    return _WS_RE.sub(" ", text.replace(" ", " ")).strip()


def runs_to_lines(runs: list, pageno: int, block: int) -> list[Line]:
    """W1: merge positioned runs (one XY-cut leaf, one page) into lines.

    Cluster by baseline (±8 px), order by x, merge fragments with gap
    < 200 px, inserting a space for word-sized gaps."""
    out: list[Line] = []
    for angle in sorted({r.angle for r in runs}):
        ar = sorted(
            (r for r in runs if r.angle == angle),
            key=lambda r: (r.baseline, r.left),
        )
        # baseline clusters
        cluster: list = []
        prev_base = None
        clusters: list[list] = []
        for r in ar:
            if prev_base is not None and r.baseline - prev_base > TOP_TOLERANCE:
                clusters.append(cluster)
                cluster = []
            cluster.append(r)
            prev_base = r.baseline
        if cluster:
            clusters.append(cluster)
        for cl in clusters:
            cl.sort(key=lambda r: r.left)
            out.extend(_merge_row(cl, pageno, angle, block))
    return out


def _merge_row(row: list, pageno: int, angle: int, block: int) -> list[Line]:
    """Merge one baseline cluster into line fragments (gap < 200 px);
    longest fragment donates the font (PDFExtract.java:831-836)."""
    out: list[Line] = []
    n = len(row)
    i = 0
    while i < n:
        r = row[i]
        parts = [r.text]
        best = r
        left = r.left
        right = r.left + r.width
        top = r.top
        bottom = r.top + r.height
        size = r.size
        j = i + 1
        while j < n:
            nxt = row[j]
            gap = nxt.left - right
            if gap >= MERGE_MAX_GAP:
                break
            if (
                gap > 0.25 * max(nxt.size, size, 1.0)
                and parts
                and not parts[-1].endswith(" ")
                and not nxt.text.startswith(" ")
            ):
                parts.append(" ")
            parts.append(nxt.text)
            if len(nxt.text) > len(best.text):
                best = nxt
            right = max(right, nxt.left + nxt.width)
            top = min(top, nxt.top)
            bottom = max(bottom, nxt.top + nxt.height)
            size = max(size, nxt.size)
            j += 1
        text = _collapse_ws("".join(parts))
        if text:
            out.append(
                Line(pageno, left, top, right, bottom, size, best.font,
                     best.family, best.weight, best.style, best.color, text,
                     angle, block)
            )
        i = j
    return out


def filter_offpage(lines: list[Line], page_w: float, page_h: float) -> list[Line]:
    """P3 + P4: drop off-page noise and blank lines
    (checkLineAdd PDFExtract.java:1475-1481; blank delete :754-757)."""
    return [
        ln for ln in lines
        if ln.left >= 0 and ln.top >= 0 and ln.left <= page_w and ln.top <= page_h
        and ln.text
    ]


# ---------------------------------------------------------------------------
# W5 — XY-cut reading order
# ---------------------------------------------------------------------------

X_GUTTER_FACTOR = 1.0  # column gutter ≥ factor × median glyph height (≈ 1 em,
                       # above word-space ≈ 0.25-0.5 em, below real gutters)
X_GUTTER_ABS_MIN = 8.0
X_EDGE_TRIM = 1.5      # shave interval right edges: absorbs fallback-width
                       # overestimation for non-embedded fonts
Y_GAP_FACTOR = 1.4     # vertical band break: gap > factor × median height
MAX_CUT_DEPTH = 12


def _interval_gaps(starts: np.ndarray, ends: np.ndarray, min_gap: float):
    """Gaps in the union of [start, end] intervals ≥ min_gap, as a list of
    (gap_start, gap_width)."""
    order = np.argsort(starts, kind="stable")
    s, e = starts[order], ends[order]
    run_max = np.maximum.accumulate(e)
    gaps = []
    gv = s[1:] - run_max[:-1]
    for i in np.nonzero(gv >= min_gap)[0]:
        gaps.append((run_max[i], gv[i]))
    return gaps


def xy_cut_leaves(
    left: np.ndarray, right: np.ndarray, top: np.ndarray, bottom: np.ndarray
) -> list[np.ndarray]:
    """Recursive XY-cut over bounding boxes (one page) → leaf blocks in
    reading order. A vertical gutter in the union of x-intervals splits
    first (column order: read the left column fully before the right one);
    otherwise a horizontal band gap splits top-down. Runs are cut BEFORE
    line merging so the W1 merge cannot bridge a column gutter narrower
    than its 200 px gap bound."""
    n = len(left)
    if n == 0:
        return []
    med_h = float(np.median(bottom - top)) if n else 10.0
    y_gap_min = max(6.0, Y_GAP_FACTOR * med_h)
    x_gutter_min = max(X_GUTTER_ABS_MIN, X_GUTTER_FACTOR * med_h)
    right_trimmed = np.maximum(left, right - X_EDGE_TRIM)
    out: list[np.ndarray] = []

    def recurse(idx: np.ndarray, depth: int) -> None:
        if len(idx) <= 1 or depth >= MAX_CUT_DEPTH:
            out.append(idx)
            return
        xg = _interval_gaps(left[idx], right_trimmed[idx], x_gutter_min + X_EDGE_TRIM)
        if xg:
            cut = xg[0][0] + xg[0][1] / 2.0  # leftmost gutter
            lmask = right_trimmed[idx] <= cut
            recurse(idx[lmask], depth + 1)
            recurse(idx[~lmask], depth + 1)
            return
        yg = _interval_gaps(top[idx], bottom[idx], y_gap_min)
        if yg:
            cut = yg[0][0] + yg[0][1] / 2.0  # topmost band break
            tmask = bottom[idx] <= cut
            recurse(idx[tmask], depth + 1)
            recurse(idx[~tmask], depth + 1)
            return
        out.append(idx)

    recurse(np.arange(n, dtype=np.int64), 0)
    return out


# ---------------------------------------------------------------------------
# A4 — repeating-line boilerplate (headers / footers / page numbers)
# ---------------------------------------------------------------------------

_DIGIT_RE = re.compile(r"\d+")
_PAGENUM_RE = re.compile(
    r"^(?:[0-9]{1,4}|[ivxlcdm]{1,7}|page\s*[0-9]{1,4}(?:\s*(?:of|/)\s*[0-9]{1,4})?|"
    r"[0-9]{1,4}\s*(?:of|/)\s*[0-9]{1,4})$",
    re.IGNORECASE,
)


def _boiler_key(text: str) -> str:
    return _DIGIT_RE.sub("#", text.strip().lower())


def boilerplate_indices(
    lines: list[Line], page_heights: dict[int, float]
) -> set[int]:
    """Indices of header/footer/page-number boilerplate lines to drop.

    Frequency heuristic over the whole document: a normalized line recurring
    in the edge bands (top/bottom 15%) of ≥ max(2, 30% of pages) is
    boilerplate; lone page-number patterns in the bands always are."""
    if not lines:
        return set()
    n_pages = len({ln.pageno for ln in lines})
    in_band = []
    keys = []
    for ln in lines:
        h = page_heights.get(ln.pageno, 792.0)
        in_band.append(ln.top <= h * BOILER_BAND or ln.bottom >= h * (1.0 - BOILER_BAND))
        keys.append(_boiler_key(ln.text))
    drop: set[int] = set()
    if n_pages >= 2:
        for i, ln in enumerate(lines):
            if in_band[i] and _PAGENUM_RE.match(ln.text.strip()):
                drop.add(i)
    if n_pages >= 3:
        pages_per_key: dict[str, set] = defaultdict(set)
        for i, ln in enumerate(lines):
            if in_band[i]:
                pages_per_key[keys[i]].add(ln.pageno)
        thresh = max(BOILER_MIN_PAGES, int(np.ceil(BOILER_PAGE_FRAC * n_pages)))
        hot = {k for k, pgs in pages_per_key.items() if len(pgs) >= thresh}
        if hot:
            for i in range(len(lines)):
                if in_band[i] and keys[i] in hot:
                    drop.add(i)
    return drop


# ---------------------------------------------------------------------------
# W2 — paragraph segmentation
# ---------------------------------------------------------------------------

def segment_paragraphs(lines: list[Line], start_pid: int = 0) -> int:
    """Assign paragraph ids in-place over reading-ordered lines of ONE page.

    Sequential pass with running leading, mirroring the reference's marker
    insertion (PDFExtract.java:857-914; isTooFar :1574-1598; isFontChanged
    :1486-1493). Returns the next free paragraph id."""
    if not lines:
        return start_pid
    pid = start_pid
    leading = 0.0
    lines[0].para = pid
    for i in range(1, len(lines)):
        cur, prev = lines[i], lines[i - 1]
        brk = False
        if cur.block != prev.block:
            brk = True
        else:
            gap = cur.top - prev.top
            h12 = (prev.bottom - prev.top) + (cur.bottom - cur.top)
            if leading <= 0.0:
                leading = gap if gap > 0 else 0.0
            if gap > PARA_HEIGHT_GAP * h12:
                brk = True
            elif leading > 0 and (
                gap > leading * PARA_LEADING_HI or gap < leading * PARA_LEADING_LO
            ):
                brk = True
            elif abs(cur.left - prev.left) > PARA_INDENT:
                brk = True
            elif len(prev.text.strip()) <= PARA_SHORT_LEN:
                brk = True
            elif abs(cur.size - prev.size) > 0.5:
                brk = True
            elif (
                cur.color != prev.color
                and abs(cur.top - prev.top) > TOP_TOLERANCE
                and cur.font != prev.font
            ):
                brk = True
            elif (
                cur.family != prev.family
                and len(prev.text) > 6
                and len(cur.text) > 6
            ):
                brk = True
            elif prev.text.rstrip().endswith(",") and cur.font != prev.font:
                # trailing comma + font class change (PDFExtract.java:882-884)
                brk = True
            if not brk and gap > 0:
                leading = gap
        if brk:
            pid += 1
            leading = 0.0
        cur.para = pid
    return pid + 1
