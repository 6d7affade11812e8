"""Spark integration tests: extraction pipeline (plans/pipeline)."""

import base64

import pytest

from pdf_extract_spark.operators.extract import extract_pdf
from pdf_extract_spark.plans import pipeline
from pdf_extract_spark.sources.corpus import corpus_dataframe, make_doc, synth_pdf


@pytest.fixture(scope="module")
def small_corpus(spark):
    return corpus_dataframe(spark, 12, use_fixtures=False, num_partitions=4).cache()


class TestExtractSpans:
    def test_output_schema_and_rows(self, spark, small_corpus):
        out = pipeline.extract_spans(small_corpus)
        rows = out.collect()
        assert len(rows) == 12
        assert set(out.columns) >= {
            "doc_id", "spans", "lang", "lang_dist", "warnings", "error",
            "n_pages", "n_lines", "n_media", "extract_ms",
        }
        assert all(r["error"] is None for r in rows)

    def test_spans_match_direct_extraction(self, spark, small_corpus):
        """Spark result == driver-side extract_pdf on the same payload."""
        out = {r["doc_id"]: r for r in pipeline.extract_spans(small_corpus).collect()}
        doc = make_doc(5, {})
        direct = extract_pdf(
            base64.b64decode(
                next(s for s in doc["spans"] if s["kind"] == "pdf")["text"]
            )
        )
        got = out["doc00000005"]
        got_pdf_texts = [s["text"] for s in got["spans"] if s["kind"] == "text"
                         and not s["text"].startswith(("Preamble", "Trailing"))]
        want = [t for k, t, m, _ in direct.spans if k == "text"]
        assert got_pdf_texts == want

    def test_partitioning_invariance(self, spark):
        """repartition(k) must not change any document's spans (determinism
        across partitionings — required for the scaling claim)."""
        a = pipeline.extract_spans(
            corpus_dataframe(spark, 10, use_fixtures=False, num_partitions=1)
        ).collect()
        b = pipeline.extract_spans(
            corpus_dataframe(spark, 10, use_fixtures=False, num_partitions=5)
        ).collect()
        am = {r["doc_id"]: r["spans"] for r in a}
        bm = {r["doc_id"]: r["spans"] for r in b}
        assert am == bm

    def test_passthrough_spans(self, spark):
        rows = [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "text", "text": "Note  with   spaces ,ok", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": "", "media_ref": "img://x/1", "offset": 1},
                    {"kind": "pdf", "text": base64.b64encode(synth_pdf(1)).decode(), "media_ref": "", "offset": 2},
                ],
            }
        ]
        df = spark.createDataFrame(rows, schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
        out = pipeline.extract_spans(df).collect()[0]
        kinds = [s["kind"] for s in out["spans"]]
        assert kinds[0] == "text" and kinds[1] == "media"
        # whitespace collapsed (P2) + space-before-comma repaired (F2);
        # the reference does not insert a space after the comma
        assert out["spans"][0]["text"] == "Note with spaces,ok"
        offsets = [s["offset"] for s in out["spans"]]
        assert offsets == list(range(len(offsets)))

    def test_error_doc_does_not_kill_batch(self, spark):
        rows = [
            {"doc_id": "bad", "spans": [
                {"kind": "pdf", "text": base64.b64encode(b"garbage").decode(), "media_ref": "", "offset": 0}]},
            {"doc_id": "good", "spans": [
                {"kind": "pdf", "text": base64.b64encode(synth_pdf(3)).decode(), "media_ref": "", "offset": 0}]},
        ]
        df = spark.createDataFrame(rows, schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
        out = {r["doc_id"]: r for r in pipeline.extract_spans(df).collect()}
        assert out["bad"]["error"] is not None
        assert out["good"]["error"] is None
        assert len(out["good"]["spans"]) > 0

    def test_null_offset_sorts_last(self, spark):
        """A null offset next to numbered ones, or a null span entry,
        must not kill the job: null-offset spans follow the numbered ones
        in input order, in both sinks."""
        def span(text, offset):
            return {"kind": "text", "text": text, "media_ref": "",
                    "offset": offset}

        rows = [("d0", [span("late one", None), span("second", 1), None,
                        span("late two", None), span("first", 0)])]
        df = spark.createDataFrame(rows, SPANS_DDL)
        want = ["first", "second", "late one", "late two"]
        out = pipeline.extract_spans(df).collect()[0]
        assert [s["text"] for s in out["spans"]] == want
        html = pipeline.extract_html(df).collect()[0]["html"]
        assert _positions(html, want) == sorted(_positions(html, want))

    def test_map_typed_spans_sort_numerically(self, spark):
        """Dict spans infer ``array<map<string,string>>``; their offsets
        must still sort as numbers (t2 before t10), in both sinks."""
        texts = [f"t{i}" for i in range(12)]
        doc = {"doc_id": "m0", "spans": [
            {"kind": "text", "text": t, "media_ref": "", "offset": i}
            for i, t in reversed(list(enumerate(texts)))]}
        df = spark.createDataFrame([doc])
        assert "map<" in df.schema.simpleString()
        out = pipeline.extract_spans(df).collect()[0]
        assert [s["text"] for s in out["spans"]] == texts
        html = pipeline.extract_html(df).collect()[0]["html"]
        assert _positions(html, texts) == sorted(_positions(html, texts))

    def test_null_doc_id_stays_null(self, spark):
        """A null doc_id comes out null from both sinks — never a
        made-up id (the string "None") that a resume anti-join would
        then treat as committed."""
        span = {"kind": "text", "text": "body", "media_ref": "", "offset": 0}
        df = spark.createDataFrame([(None, [span]), ("d1", [span])],
                                   SPANS_DDL)
        for sink in (pipeline.extract_spans, pipeline.extract_html):
            ids = [r["doc_id"] for r in sink(df).collect()]
            assert sorted(ids, key=lambda d: d is None) == ["d1", None], (
                sink.__name__)


SPANS_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
             "media_ref:string,offset:int>>")


def _positions(html: str, words: list[str]) -> list[int]:
    """Where each whole word first occurs in a rendered document."""
    import re

    found = [re.search(rf"\b{re.escape(w)}\b", html) for w in words]
    assert None not in found, (words, html[:800])
    return [m.start() for m in found]


class TestPipelineRun:
    def test_run_and_resume(self, spark, tmp_path):
        inp = str(tmp_path / "in")
        outp = str(tmp_path / "out")
        corpus_dataframe(spark, 8, use_fixtures=False).write.parquet(inp)
        r1 = pipeline.run_pipeline(spark, inp, outp)
        assert r1["n_docs"] == 8
        # resume: everything committed → no new docs
        r2 = pipeline.run_pipeline(spark, inp, outp, resume=True)
        assert r2["n_docs"] == 0
        out = spark.read.parquet(outp)
        assert out.count() == 8
        lin = spark.read.parquet(outp + "_lineage")
        rows = lin.collect()
        assert sum(r["n_docs"] for r in rows if r["run_id"] == r1["run_id"]) == 8
        assert all(r["n_err"] == 0 for r in rows)

    def test_resume_partial_lineage_not_empty(self, spark, tmp_path):
        """Regression: a resumed run's lineage must cover the NEW docs —
        writing output before lineage used to invalidate the cached plan
        and recompute the anti-join against the just-appended output,
        producing empty lineage."""
        inp8 = str(tmp_path / "in8")
        inp12 = str(tmp_path / "in12")
        outp = str(tmp_path / "outr")
        corpus_dataframe(spark, 8, use_fixtures=False).write.parquet(inp8)
        corpus_dataframe(spark, 12, use_fixtures=False).write.parquet(inp12)
        pipeline.run_pipeline(spark, inp8, outp)
        r2 = pipeline.run_pipeline(spark, inp12, outp, resume=True)
        assert r2["n_docs"] == 4
        lin = spark.read.parquet(outp + "_lineage")
        per_run = (
            lin.groupBy("run_id").sum("n_docs").collect()
        )
        assert sorted(r["sum(n_docs)"] for r in per_run) == [4, 8]
        assert spark.read.parquet(outp).select("doc_id").distinct().count() == 12

    def test_lineage_columns(self, spark, tmp_path):
        inp = str(tmp_path / "in2")
        outp = str(tmp_path / "out2")
        corpus_dataframe(spark, 4, use_fixtures=False).write.parquet(inp)
        pipeline.run_pipeline(spark, inp, outp)
        lin = spark.read.parquet(outp + "_lineage")
        assert set(lin.columns) >= {
            "run_id", "partition_id", "doc_ids_min", "doc_ids_max",
            "n_docs", "n_ok", "n_err", "wall_ms", "committed_at",
        }


def test_extraction_plan_is_narrow(spark, tmp_path):
    """North-rule scale contract: both extraction sinks over a file
    source are a pure narrow map — scan → project → mapInArrow (no
    pandas boundary), with NO Exchange (shuffle) anywhere, and only the
    two needed columns read."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.sources.corpus import corpus_dataframe

    path = str(tmp_path / "corpus")
    corpus_dataframe(spark, 4).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path).withColumn("extra", F.lit(1))
    for sink in (pipeline.extract_spans, pipeline.extract_html):
        plan = sink(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, sink.__name__
        assert "MapInArrow" in plan, sink.__name__
        assert "MapInPandas" not in plan, sink.__name__
        # column pruning: the synthetic extra column must not reach the
        # scan
        assert "extra" not in plan.split("ReadSchema")[1][:400], \
            sink.__name__


def test_read_pdf_dir_source(spark, tmp_path):
    """S1/S3 parity: a directory of raw PDFs feeds the same pipeline."""
    import shutil

    from pdf_extract_spark.plans.pipeline import extract_spans
    from pdf_extract_spark.sources.corpus import read_pdf_dir, synth_pdf

    d = tmp_path / "pdfs"
    d.mkdir()
    (d / "a.pdf").write_bytes(synth_pdf(1, n_pages=1, lines_per_page=4))
    (d / "b.pdf").write_bytes(synth_pdf(2, n_pages=1, lines_per_page=4))
    (d / "ignore.txt").write_bytes(b"not a pdf")
    src = "/root/reference/Test/pdf-in/sample.pdf"
    try:
        shutil.copy(src, d / "c.pdf")
    except OSError:
        pass

    docs = read_pdf_dir(spark, str(d))
    rows = extract_spans(docs).collect()
    assert len(rows) == len(list(d.glob("*.pdf")))
    assert all(r["error"] is None for r in rows)
    assert all(r["doc_id"].endswith(".pdf") for r in rows)
    assert all(len(r["spans"]) > 0 for r in rows)


def test_mirror_dedup_extraction_equivalent(spark):
    """extract_spans_mirror_dedup produces the same per-doc results as
    plain extract_spans on a corpus with byte-identical mirrors, while
    extracting each distinct payload only once."""
    import pandas as pd

    from pdf_extract_spark.plans.pipeline import (
        extract_spans,
        extract_spans_mirror_dedup,
    )
    from pdf_extract_spark.sources.corpus import corpus_pandas

    base = corpus_pandas(6, use_fixtures=False)
    mirrored = pd.concat([
        base,
        base.assign(doc_id=base["doc_id"] + "_mirror"),
    ], ignore_index=True)
    df = spark.createDataFrame(mirrored)

    plain = {r.doc_id: r for r in extract_spans(df).collect()}
    dedup = {r.doc_id: r for r in extract_spans_mirror_dedup(df).collect()}
    assert set(plain) == set(dedup)
    for k in plain:
        assert [tuple(s) for s in plain[k].spans] == \
            [tuple(s) for s in dedup[k].spans], k
        assert plain[k].lang == dedup[k].lang
        assert plain[k].error == dedup[k].error
        # mirror pairs share one extraction's result
        assert [tuple(s) for s in dedup[k].spans] == \
            [tuple(s) for s in dedup[k.replace("_mirror", "") if
                                     k.endswith("_mirror") else k + "_mirror"].spans]


def test_run_pipeline_mirror_dedup_with_resume(spark, tmp_path):
    """Integration: --dedup-mirrors composes with resume + lineage —
    a mirrored corpus extracts once per distinct payload, commits all
    carrier docs, and a resumed run finds nothing left."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf_extract_spark.sources.corpus import corpus_pandas

    base = corpus_pandas(6, use_fixtures=False)
    mirrored = pd.concat(
        [base, base.assign(doc_id=base["doc_id"] + "_m")],
        ignore_index=True,
    )
    inp = str(tmp_path / "in_mirror")
    outp = str(tmp_path / "out_mirror")
    spark.createDataFrame(mirrored).write.parquet(inp)

    r1 = pipeline.run_pipeline(spark, inp, outp, dedup_mirrors=True)
    assert r1["n_docs"] == 12
    out = spark.read.parquet(outp)
    assert out.count() == 12
    assert out.filter(F.col("error").isNotNull()).count() == 0
    # mirror pairs carry identical spans
    rows = {r.doc_id: [tuple(s) for s in r.spans] for r in out.collect()}
    for k in base["doc_id"]:
        assert rows[k] == rows[k + "_m"]

    r2 = pipeline.run_pipeline(spark, inp, outp, resume=True,
                               dedup_mirrors=True)
    assert r2["n_docs"] == 0
