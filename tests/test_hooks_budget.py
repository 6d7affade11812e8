"""X4 per-doc time budget."""

import time

import pytest

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
