"""Per-layer numbers for the traced run.

Three sources, all from the benchmark's own files (no package change):

* :class:`Tracer` wraps the callees of ``extract_pdf`` where
  ``operators/extract.py`` looks them up and charges each call's
  exclusive time to its layer while a fixed doc sample is replayed in
  process; ``extract.self_ms`` is what the wrapped callees leave over,
  so the layers and the self time add up to the replay total.
* :class:`OrchestrationSpans` times the ``TableIO`` and
  ``lineage_frame`` calls ``run_pipeline`` makes.
* :func:`spark_metrics` reads Spark's own event log: task and stage
  metrics plus the Python-boundary SQL metrics.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import Counter, defaultdict

import numpy as np

from pdf_extract_spark.functions import langid, sigkernel
from pdf_extract_spark.functions.textrules import RuleSet
from pdf_extract_spark.operators import dedup, extract, layout
from pdf_extract_spark.plans import pipeline
from pdf_extract_spark.sources import pdfparse
from pdf_extract_spark.sources.tableio import TableIO

KERNEL_LAYERS = ("pdfparse", "textops", "layout", "textrules", "langid")


class Tracer:
    """Exclusive time and call counts per layer for wrapped callables:
    a wrapped call nested in another is charged to the inner layer."""

    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.counts: Counter = Counter()
        self._stack: list[float] = []

    def wrap(self, layer: str, fn, count=None):
        def wrapped(*args, **kwargs):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                res = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.self_s[layer] += dt - self._stack.pop()
                if self._stack:
                    self._stack[-1] += dt
            if count is not None:
                count(self.counts, res)
            return res
        return wrapped

    @contextlib.contextmanager
    def patched(self, targets):
        """Install wrappers for ``(owner, attr, layer, count)`` targets
        and restore the originals on exit."""
        saved = []
        try:
            for owner, attr, layer, count in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(layer, orig, count))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)


def _n(key, fn=len):
    def count(counts, res):
        counts[key] += fn(res)
    return count


def _calls(key):
    def count(counts, res):
        counts[key] += 1
    return count


def _count_pages(counts, res):
    counts["textops.pages"] += 1
    counts["textops.runs"] += len(res[0])


def kernel_targets():
    """The callees of ``extract_pdf``, wrapped where it looks them up."""
    doc = pdfparse.PDFDocument
    return [
        (doc, "__init__", "pdfparse", None),
        (doc, "pages", "pdfparse", None),
        (pdfparse, "decode_stream", "pdfparse", _n("pdfparse.decoded_bytes")),
        (extract, "interpret_page", "textops", _count_pages),
        (layout, "xy_cut_leaves", "layout", None),
        (layout, "runs_to_lines", "layout", _n("layout.lines")),
        (layout, "filter_offpage", "layout", None),
        (layout, "boilerplate_indices", "layout",
         _n("layout.boilerplate_dropped")),
        (layout, "segment_paragraphs", "layout", None),
        (langid, "detect_reliable", "langid", _calls("langid.calls")),
        (RuleSet, "normalize_series", "textrules", None),
        (RuleSet, "repair_series", "textrules", None),
        (RuleSet, "is_absolute_eof", "textrules", None),
        (RuleSet, "join_char", "textrules", _calls("textrules.join_calls")),
    ]


def replay_extract(payloads: list[bytes]) -> dict:
    """Replay ``extract_pdf`` over ``payloads`` untraced, then traced;
    per-doc layer times from the traced pass, the overhead from both."""
    rules = RuleSet()
    for pdf in payloads[:3]:
        extract.extract_pdf(pdf, rules)

    def total() -> float:
        t0 = time.perf_counter()
        for pdf in payloads:
            extract.extract_pdf(pdf, rules)
        return time.perf_counter() - t0

    # alternate untraced and traced passes so drift hits both alike
    tracer = Tracer()
    plain = traced = 0.0
    for _ in range(2):
        plain += total()
        with tracer.patched(kernel_targets()):
            traced += total()
    n = 2 * len(payloads)
    layers = {name: tracer.self_s[name] for name in KERNEL_LAYERS}
    c = tracer.counts
    out = {f"{name}.ms": 1000 * s / n for name, s in layers.items()}
    out.update({
        "extract.ms_per_doc": 1000 * plain / n,
        "extract.self_ms": 1000 * (traced - sum(layers.values())) / n,
        "extract.replay_ms": 1000 * traced / n,
        "pdfparse.decoded_mb": c["pdfparse.decoded_bytes"] / 1e6 / n,
        "textops.pages": c["textops.pages"] / n,
        "textops.runs": c["textops.runs"] / n,
        "layout.lines": c["layout.lines"] / n,
        "layout.boilerplate_dropped": c["layout.boilerplate_dropped"] / n,
        "textrules.join_calls": c["textrules.join_calls"] / n,
        "langid.calls": c["langid.calls"] / n,
        "trace.overhead_frac": traced / plain - 1.0,
    })
    return out


def replay_neardup(texts: list[str], batch: int = 10_000) -> dict:
    """Replay the signature kernel over ``texts`` in Arrow-sized batches,
    then the LSH banding and jaccard verify of ``dedup_minhash_lsh``
    in numpy: candidate rows (band-join rows before the distinct) and
    verified pairs."""
    t0 = time.perf_counter()
    sh_all, mh_all = [], []
    for i in range(0, len(texts), batch):
        sh, _, mh, _ = sigkernel.batch_signatures(
            texts[i:i + batch], dedup.SHINGLE_W, True, False)
        sh_all += sh
        mh_all.append(np.stack(mh, axis=1))
    kernel_s = time.perf_counter() - t0
    mh = np.concatenate(mh_all) if mh_all else np.empty((0, dedup.N_MINHASH))
    cand_rows = 0
    cands: set[tuple[int, int]] = set()
    for b in range(dedup.LSH_BANDS):
        keys = mh[:, b * dedup.LSH_ROWS:(b + 1) * dedup.LSH_ROWS]
        _, inv, cnt = np.unique(keys, axis=0, return_inverse=True,
                                return_counts=True)
        cand_rows += int((cnt * (cnt - 1) // 2).sum())
        groups: dict[int, list[int]] = defaultdict(list)
        for doc, g in enumerate(inv.ravel()):
            if cnt[g] > 1:
                groups[int(g)].append(doc)
        for docs in groups.values():
            cands.update((a, b2) for k, a in enumerate(docs)
                         for b2 in docs[k + 1:])
    sets = {}
    pairs = 0
    for a, b in cands:
        sa = sets.setdefault(a, set(sh_all[a]))
        sb = sets.setdefault(b, set(sh_all[b]))
        if len(sa & sb) >= dedup.JACCARD_TAU * len(sa | sb):
            pairs += 1
    return {
        "sigkernel.ms_per_kdoc": 1000 * kernel_s / max(len(texts), 1) * 1000,
        "sigkernel.shingles": float(sum(len(s) for s in sh_all)),
        "dedup.candidate_rows": float(cand_rows),
        "dedup.pairs_out": float(pairs),
        "dedup.useful_ratio": pairs / cand_rows if cand_rows else 0.0,
        "kernel_s": kernel_s,
    }


class OrchestrationSpans:
    """Times the ``TableIO`` and ``lineage_frame`` calls of
    ``run_pipeline`` (and the plan build of ``extract_spans``) while
    installed; one instance accumulates over many jobs."""

    def __init__(self):
        self.events: list[tuple[str, float, float, str]] = []

    def _wrap(self, name, fn):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                ref = args[2] if name == "write" and len(args) > 2 else ""
                self.events.append((name, t0, time.perf_counter(), str(ref)))
        return wrapped

    @contextlib.contextmanager
    def patched(self):
        targets = [(TableIO, "read"), (TableIO, "exists"), (TableIO, "write"),
                   (pipeline, "lineage_frame"), (pipeline, "extract_spans")]
        saved = [(o, a, o.__dict__[a]) for o, a in targets]
        try:
            for o, a, orig in saved:
                setattr(o, a, self._wrap(a, orig))
            yield self
        finally:
            for o, a, orig in saved:
                setattr(o, a, orig)

    def summary(self, n_jobs: int) -> dict:
        """Per-job seconds: reads, writes, the lineage write, and the
        persist+count between the extract plan and the lineage frame."""
        dur = defaultdict(float)
        plan_end = None
        for name, t0, t1, ref in self.events:
            if name in ("read", "exists"):
                dur["tableio.read_s"] += t1 - t0
            elif name == "write":
                dur["tableio.write_s"] += t1 - t0
                if ref.endswith("_lineage"):
                    dur["pipeline.lineage_write_s"] += t1 - t0
            elif name == "extract_spans":
                plan_end = t1
            elif name == "lineage_frame" and plan_end is not None:
                dur["pipeline.extract_count_s"] += t0 - plan_end
                plan_end = None
        keys = ("tableio.read_s", "tableio.write_s",
                "pipeline.lineage_write_s", "pipeline.extract_count_s")
        return {k: dur[k] / max(n_jobs, 1) for k in keys}


def _event_file(event_dir: str) -> str:
    names = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {names}")
    return os.path.join(event_dir, names[0])


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def spark_metrics(event_dir: str, group: str, n_jobs: int) -> dict:
    """Task, stage and Python-boundary metrics of the jobs run under job
    group ``group``, per job, from a finished Spark event log; the two
    memory figures are peaks over those jobs' tasks: the JVM's used heap,
    and the part of it Spark's memory manager granted (execution and
    storage memory)."""
    stages: set[int] = set()
    tasks = []
    with open(_event_file(event_dir)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if ev.get("Properties", {}).get("spark.jobGroup.id") == group:
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                tasks.append(ev)
    run_s, cpu_s, gc_s, sched_s = [], 0.0, 0.0, 0.0
    sh_w = sh_r = spill = sent = recv = py_run = 0.0
    heap = managed = 0.0
    for ev in tasks:
        peaks = ev.get("Task Executor Metrics") or {}
        heap = max(heap, peaks.get("JVMHeapMemory", 0))
        managed = max(managed, peaks.get("OnHeapUnifiedMemory", 0))
        m = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        run = m.get("Executor Run Time", 0) / 1000
        run_s.append(run)
        cpu_s += m.get("Executor CPU Time", 0) / 1e9
        gc_s += m.get("JVM GC Time", 0) / 1000
        wall = (info["Finish Time"] - info["Launch Time"]) / 1000
        sched_s += max(0.0, wall - run
                       - m.get("Executor Deserialize Time", 0) / 1000
                       - m.get("Result Serialization Time", 0) / 1000
                       - info.get("Getting Result Time", 0) / 1000)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sh_w += sw.get("Shuffle Bytes Written", 0)
        sh_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc = {a.get("Name"): a.get("Update", 0)
               for a in info.get("Accumulables", [])}
        if PY_SENT in acc:
            py_run += run
            sent += float(acc[PY_SENT])
            recv += float(acc.get(PY_RECV, 0))
    n = max(n_jobs, 1)
    return {
        "spark.executor_run_s": sum(run_s) / n,
        "spark.executor_cpu_s": cpu_s / n,
        "spark.gc_s": gc_s / n,
        "spark.sched_delay_s": sched_s / n,
        "spark.tasks": len(tasks) / n,
        "spark.task_s_p50": float(np.median(run_s)) if run_s else 0.0,
        "spark.task_s_max": max(run_s, default=0.0),
        "spark.shuffle_write_mb": sh_w / 1e6 / n,
        "spark.shuffle_read_mb": sh_r / 1e6 / n,
        "spark.spill_mb": spill / 1e6 / n,
        "spark.jvm_heap_mb": heap / 1e6,
        "spark.managed_heap_mb": managed / 1e6,
        "boundary.to_python_mb": sent / 1e6 / n,
        "boundary.from_python_mb": recv / 1e6 / n,
        "python_stage_run_s": py_run / n,
    }
