"""Tests of the benchmark itself: seeded inputs and the output checks.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import PER_LAYER_UNITS  # noqa: E402

OUT_SCHEMA = pa.schema([("doc_id", pa.string()),
                        ("spans", pa.list_(gen.SPAN)),
                        ("error", pa.string())])


def test_same_seed_gives_same_inputs():
    for make in (lambda s: gen.pipeline_rows("pipeline_skew", s, 60, 50),
                 lambda s: gen.neardup_rows(s, 300)):
        assert gen.digest(make(7)) == gen.digest(make(7))


def test_other_seed_gives_other_inputs():
    for make in (lambda s: gen.pipeline_rows("pipeline_small", s, 20, None),
                 lambda s: gen.neardup_rows(s, 300)):
        assert gen.digest(make(7)) != gen.digest(make(8))


def test_skew_tail_is_exact():
    """The last doc of every run of HEAVY_EVERY is heavy for any seed,
    so the first ``1/cores`` of the rows keeps the ratio."""
    for seed in (1, 2):
        rows = gen.pipeline_rows("pipeline_skew", seed, 100, 50)
        heavy = [i for i, r in enumerate(rows)
                 if sum(map(len, gen.pdf_payloads(r))) > 1_000_000]
        assert heavy == [49, 99]


def test_neardup_table_has_the_sf01_shape():
    rows = gen.neardup_rows(5, 4_000)
    copies = [r for r in rows if r["text"].endswith(" " + gen.NEARDUP_MARK)]
    words = [len(r["text"].split()) for r in rows if r not in copies]
    vocab = {w for r in rows for w in r["text"].split()} - {gen.NEARDUP_MARK}
    assert 0.04 < len(copies) / len(rows) < 0.06
    assert (min(words), max(words)) == gen.NEARDUP_WORDS
    assert sorted(map(len, vocab)) == sorted(gen.NEARDUP_WORD_LENGTHS)
    assert all(r["n_chars"] == len(r["text"]) for r in rows)


def _write_output(path, rows, spans_by_doc):
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": r["doc_id"], "error": None,
          "spans": [dict(zip(("kind", "text", "media_ref", "offset"), s))
                    for s in spans_by_doc[r["doc_id"]]]} for r in rows],
        schema=OUT_SCHEMA), os.path.join(path, "part-0.parquet"))


def _fixture(tmp_path):
    rows = gen.pipeline_rows("pipeline_small", 3, 4, None)
    want = {r["doc_id"]: check.expected_spans(r) for r in rows}
    out = tmp_path / "out"
    out.mkdir()
    return rows, want, str(out)


def test_checker_accepts_correct_output(tmp_path):
    rows, want, out = _fixture(tmp_path)
    _write_output(out, rows, want)
    assert check.check_committed(out, [r["doc_id"] for r in rows]) == []
    assert check.check_spans(out, want) == []


def test_checker_rejects_dropped_span(tmp_path):
    rows, want, out = _fixture(tmp_path)
    doc = rows[0]["doc_id"]
    bad = dict(want)
    bad[doc] = [(k, t, m, i) for i, (k, t, m, _) in enumerate(want[doc][1:])]
    _write_output(out, rows, bad)
    assert check.check_spans(out, want) == [
        f"{doc}: span sequence differs from in-process extract_pdf"]


def test_checker_rejects_reordered_span(tmp_path):
    rows, want, out = _fixture(tmp_path)
    doc = rows[1]["doc_id"]
    spans = want[doc]
    swapped = [spans[1][:3] + (0,), spans[0][:3] + (1,)] + spans[2:]
    _write_output(out, rows, {**want, doc: swapped})
    assert len(check.check_spans(out, want)) == 1


def test_checker_rejects_lost_and_repeated_doc_ids(tmp_path):
    rows, want, out = _fixture(tmp_path)
    _write_output(out, [rows[0], rows[0], rows[1]], want)
    problems = check.check_committed(out, [r["doc_id"] for r in rows])
    assert len(problems) == 2
    assert "committed twice" in problems[0]
    assert "never committed" in problems[1]


def test_pair_check_rejects_missing_and_extra_pairs():
    want = {(1, 2), (3, 4)}
    assert check.check_pairs(set(want), want) == []
    assert len(check.check_pairs({(1, 2), (5, 6)}, want)) == 2


def test_reported_metrics_are_the_declared_ones():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for key, units in (("end_to_end", run.END_TO_END_UNITS),
                       ("per_layer", PER_LAYER_UNITS)):
        assert {m["name"]: m["unit"] for m in spec[key]} == units
