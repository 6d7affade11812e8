"""Output checks behind a run's ``correct`` flag.

* pipeline workloads: every input doc_id is committed exactly once, and
  sampled docs carry the span sequence (kind, text, media_ref, offset)
  an in-process ``extract_pdf`` of the same bytes gives;
* near-dup: the pair set equals the DuckDB oracle's on the same table.
"""

from __future__ import annotations

import base64

import pyarrow.compute as pc
import pyarrow.dataset as ds

from pdf_extract_spark.functions.textrules import RuleSet
from pdf_extract_spark.operators.extract import extract_pdf

_RULES = RuleSet()


def expected_spans(row: dict) -> list[tuple[str, str, str, int]]:
    """The spans the pipeline must emit for one input row: text spans
    normalized and repaired, media spans passed through, each pdf span
    replaced by ``extract_pdf``'s spans, all renumbered in order."""
    out: list[tuple[str, str, str]] = []
    for s in sorted(row["spans"], key=lambda s: s["offset"]):
        if s["kind"] == "pdf":
            res = extract_pdf(base64.b64decode(s["text"]), _RULES)
            out += [(k, t, m) for k, t, m, _ in res.spans]
        elif s["kind"] == "text":
            t = _RULES.repair_str(_RULES.normalize_str(
                " ".join(s["text"].split()))).strip()
            if t:
                out.append(("text", t, ""))
        elif s["kind"] == "media":
            out.append(("media", "", s["media_ref"]))
    return [(k, t, m, i) for i, (k, t, m) in enumerate(out)]


def read_output(path: str, columns: list[str], doc_ids=None):
    """Committed rows of an output table (pyarrow skips the ``_``-prefixed
    manifest), optionally only those with the given doc_ids."""
    flt = pc.field("doc_id").isin(list(doc_ids)) if doc_ids is not None else None
    return ds.dataset(path, format="parquet").to_table(columns=columns,
                                                       filter=flt)


def check_committed(path: str, input_ids: list[str]) -> list[str]:
    """Problems with the doc_id set of an output table (empty = ok)."""
    ids = read_output(path, ["doc_id"]).column("doc_id").to_pylist()
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} doc_ids committed twice")
    missing = set(input_ids) - set(ids)
    extra = set(ids) - set(input_ids)
    if missing:
        problems.append(f"{len(missing)} doc_ids never committed,"
                        f" e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unknown doc_ids committed")
    return problems


def check_spans(path: str, expected: dict[str, list]) -> list[str]:
    """Problems with the sampled docs' span sequences (empty = ok)."""
    t = read_output(path, ["doc_id", "spans"], expected)
    got = {d: [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in (spans or [])]
           for d, spans in zip(t.column("doc_id").to_pylist(),
                               t.column("spans").to_pylist())}
    return [f"{d}: span sequence differs from in-process extract_pdf"
            for d, want in expected.items() if got.get(d) != want]


def check_pairs(got: set, want: set) -> list[str]:
    """Problems with a near-dup pair set against the oracle's."""
    problems = []
    if got - want:
        problems.append(f"{len(got - want)} pairs not in the oracle,"
                        f" e.g. {sorted(got - want)[:3]}")
    if want - got:
        problems.append(f"{len(want - got)} oracle pairs missing,"
                        f" e.g. {sorted(want - got)[:3]}")
    return problems
