"""X4 per-doc time budget, §2.8 Python hooks, F3 search-replace.tab."""

import time

import pytest

from pdf_extract_spark.functions.textrules import RuleSet, load_search_replace_tab
from pdf_extract_spark.operators.extract import extract_pdf
from tests.test_sentencejoin import _two_line_pdf

from tests.conftest import fixture_bytes, kerned_pdf


@pytest.mark.parametrize("source", ["kerned_pdf", "sample4.pdf"])
def test_time_budget_partial_extraction(source):
    """Budget exhausted mid-document → partial spans + timeout warning
    (the reference's -t kills poppler and loses the doc,
    PDFToHtml.java:135-139; we keep the processed pages). The budget is
    a quarter of this machine's full-extraction time of a many-page doc,
    so it runs out part-way through the pages."""
    if source == "kerned_pdf":
        pdf = kerned_pdf(3, n_pages=100, flate=True)
    else:
        pdf = fixture_bytes(source)
        if pdf is None:
            pytest.skip("reference fixtures unavailable")
    took = []
    for _ in range(2):  # the faster run: a stall cannot inflate the budget
        t0 = time.perf_counter()
        full = extract_pdf(pdf)
        took.append(time.perf_counter() - t0)
    part = extract_pdf(pdf, time_budget_s=min(took) / 4)
    assert any(w[0] == "timeout" for w in part.warnings)
    assert 0 < len(part.spans) < len(full.spans)
    assert part.error is None


def test_time_budget_generous_is_noop():
    pdf = _two_line_pdf("First line here", "second line here")
    res = extract_pdf(pdf, time_budget_s=60.0)
    assert not any(w[0] == "timeout" for w in res.warnings)
    assert res.n_pages == 1


def _drop_first(page_lines, w, h):
    return [0]


def _upper(text):
    return text.upper()


def test_header_footer_and_repair_hooks():
    pdf = _two_line_pdf("Header junk", "Body content stays")
    plain = extract_pdf(pdf)
    assert [t for k, t, _, _ in plain.spans if k == "text"] == [
        "Header junk", "Body content stays",
    ]
    hooked = extract_pdf(pdf, hooks={"is_header": _drop_first,
                                     "repair_line": _upper})
    assert [t for k, t, _, _ in hooked.spans if k == "text"] == [
        "BODY CONTENT STAYS",
    ]


def test_footer_hook_indexes_from_page_end():
    pdf = _two_line_pdf("Keep this", "Footer junk")
    hooked = extract_pdf(pdf, hooks={"is_footer": _drop_first})
    assert [t for k, t, _, _ in hooked.spans if k == "text"] == ["Keep this"]


def test_search_replace_tab(tmp_path):
    tab = tmp_path / "search-replace.tab"
    tab.write_text("foo\tbar\n\nnotab-line\nba+z\tqux\n", encoding="utf-8")
    assert load_search_replace_tab(str(tab)) == [("foo", "bar"), ("ba+z", "qux")]
    rules = RuleSet(search_replace_tab=str(tab))
    assert rules.normalize_str("foo and baaz") == "bar and qux"
    # regular normalize rules still run first
    assert rules.normalize_str("ﬁfoo") == "fibar"
