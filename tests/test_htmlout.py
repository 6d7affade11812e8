"""S7 HTML sink: renderer structure/ID scheme, error doc, pipeline op."""

from __future__ import annotations

import re

import pytest
from conftest import corpus_frame, fixture_bytes

#: the hermetic 2-page synthetic PDF; the reference's sample PDFs run as
#: extra cases when its fixture directory is present
_SYNTH = "synth_pdf(3, n_pages=2)"


def _case(name: str, *values):
    marks = () if name == _SYNTH else pytest.mark.skipif(
        fixture_bytes(name) is None, reason=f"fixture {name} absent")
    return pytest.param(name, *values, id=name, marks=marks)


def _render(name: str) -> str:
    from pdf_extract_spark.functions.htmlout import render_document
    from pdf_extract_spark.functions.textrules import RuleSet
    from pdf_extract_spark.operators.extract import extract_pdf
    from pdf_extract_spark.sources.corpus import synth_pdf

    pdf = synth_pdf(3, n_pages=2) if name == _SYNTH else fixture_bytes(name)
    assert pdf is not None
    res = extract_pdf(pdf, RuleSet(), keep_lines=True)
    assert res.error is None
    return render_document(res.lines, res.lang, res.lang_dist, res.warnings)


@pytest.mark.parametrize("name,title", [
    _case(_SYNTH, "Structure To Dog Science"),  # the synth title line
    _case("sample.pdf", "A Simple PDF File"),
])
def test_render_sample_structure(name, title):
    html = _render(name)
    assert html.startswith("<html>\n<head>")
    assert '<defaultLang abbr="en" />' in html
    assert '<language abbr="en"' in html
    assert '<div id="page1" class="page">' in html
    assert '<div id="page2" class="page">' in html
    assert '<p id="page1p1" lang="en"' in html
    assert title in html
    assert html.rstrip().endswith("</html>")
    # well-formed nesting: every <p opens before its </p>, pages balanced
    assert html.count("<p id=") == html.count("</p>")
    assert html.count('<div id="page') == html.count("</div>")


@pytest.mark.parametrize("name", [_case(_SYNTH), _case("sample.pdf")])
def test_paragraph_ids_reset_per_page(name):
    html = _render(name)
    # page2's first paragraph must restart at p1 (README.md:290-298)
    assert re.search(r'<p id="page2p1" ', html)


@pytest.mark.parametrize("name", [_case(_SYNTH), _case("sample3.pdf")])
def test_fontname_attribute_present(name):
    html = _render(name)
    m = re.search(r'<p id="page1p1" lang="[a-z]*" fontname="([^"]*)">', html)
    assert m, html[:600]
    if name == _SYNTH:
        assert m.group(1) == "Helvetica"


def test_render_error_doc():
    from pdf_extract_spark.functions.htmlout import render_error

    out = render_error("boom & <bust>")
    assert "<error>boom &amp; &lt;bust&gt;</error>" in out


def test_extract_html_operator(spark):
    from pdf_extract_spark.plans.pipeline import extract_html

    docs = corpus_frame(spark, 6)
    rows = {r.doc_id: r for r in extract_html(docs).collect()}
    assert len(rows) == 6
    ok = [r for r in rows.values() if r.error is None]
    assert len(ok) == 6
    assert all(r.html.startswith("<html>") for r in ok)
    assert all('<div id="page1"' in r.html for r in ok)


def _two_span_doc(doc_id, payloads):
    import base64

    spans = []
    for i, p in enumerate(payloads):
        spans.append({
            "kind": "pdf",
            "text": base64.b64encode(p).decode("ascii") if p else "",
            "media_ref": "",
            "offset": i,
        })
    return {"doc_id": doc_id, "spans": spans}


def test_extract_html_multi_pdf_span(spark):
    """A doc with several pdf spans renders ONE combined document: both
    spans' pages appear, the second span's pages offset past the first
    (regression: the sink used to keep only the LAST span's html)."""
    import re

    from pdf_extract_spark.plans.pipeline import extract_html
    from pdf_extract_spark.sources.corpus import synth_pdf

    doc = _two_span_doc("d0", [synth_pdf(1, n_pages=2), synth_pdf(2, n_pages=1)])
    row = extract_html(spark.createDataFrame([doc])).collect()[0]
    assert row.error is None
    pages = sorted(set(int(m) for m in re.findall(r'<div id="page(\d+)"', row.html)))
    assert pages == [1, 2, 3], row.html[:800]


def test_extract_html_span_error_then_success(spark):
    """If an earlier pdf span fails and a later one succeeds, the html is
    the successful span's document and the error names the failure —
    never a (good html, stale error) mix presented as one extraction."""
    from pdf_extract_spark.plans.pipeline import extract_html
    from pdf_extract_spark.sources.corpus import synth_pdf

    doc = _two_span_doc("d1", [b"%PDF-not really a pdf", synth_pdf(3, n_pages=1)])
    row = extract_html(spark.createDataFrame([doc])).collect()[0]
    assert '<div id="page1"' in row.html
    assert "<error>" not in row.html
    assert row.error  # the failed span is still reported


def test_extract_html_renders_html_tier(spark):
    """S7 sink over an html-kind doc: main-content blocks come out as
    paragraphs; chrome is stripped; language lands in the head."""
    from pdf_extract_spark.plans.pipeline import extract_html

    page = ('<html><body>'
            '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>'
            '<article><h1>The headline here</h1>'
            '<p>The first paragraph of the article is long enough to '
            'keep and it is clearly written in English for the test.</p>'
            '</article>'
            '<footer><p>Copyright notice that must disappear from '
            'output entirely.</p></footer>'
            '</body></html>')
    df = spark.createDataFrame(
        [("h1", [{"kind": "html", "text": page, "media_ref": "",
                  "offset": 0}]),
         ("t1", [{"kind": "text", "text": "A bare text span document.",
                  "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    rows = {r.doc_id: r for r in extract_html(df).collect()}
    h = rows["h1"].html
    assert rows["h1"].error is None
    assert "The headline here" in h
    assert "first paragraph of the article" in h
    assert "Copyright" not in h and "Home" not in h
    assert 'defaultLang abbr="en"' in h
    assert h.count("<p ") == 2  # headline + paragraph
    t = rows["t1"].html
    assert "A bare text span document." in t and rows["t1"].error is None


def test_extract_html_lang_attr_only_doc(spark):
    """An html doc whose every block is dropped but which declares
    <html lang>: no crash, the declared language still lands in the
    head (count 0 — no percent rows)."""
    from pdf_extract_spark.plans.pipeline import extract_html

    page = '<html lang="fi"><body><nav><p>menu stuff here</p></nav></body></html>'
    df = spark.createDataFrame(
        [("h1", [{"kind": "html", "text": page, "media_ref": "",
                  "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    row = extract_html(df).collect()[0]
    assert row.error is None
    assert 'defaultLang abbr="fi"' in row.html
