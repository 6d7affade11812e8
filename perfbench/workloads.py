"""The benchmark workloads. Each runs as a closed loop with one client:
the next job starts when the previous one has committed.

* ``pipeline_small`` — ``run_pipeline(resume=True)`` over a many-file
  table of small interleaved docs, with a committed quarter of the
  doc_ids restored before every job: extraction is cheap, so the
  Arrow/pandas boundary, the resume anti-join and the commit are a large
  share of the wall.
* ``pipeline_skew`` — a fresh ``run_pipeline(num_partitions=cores)``
  over a two-file table where one doc in 50 is a heavy 110-page PDF:
  parse/interpret time and straggler tasks set the wall, and the
  two-lane skew split is on the path.
* ``neardup`` — ``dedup_minhash_lsh`` over a generated
  ``documents.parquet`` with a seeded share of near-duplicates: no
  extraction, only the signature kernel and the LSH join.

After every second timed job the same job runs once more in one slot
(one input split, one shuffle partition) over the first ``1/cores`` of
the rows, which gives the weak-scaling efficiency.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

import check
import gen
import trace

PER_LAYER_UNITS = {
    "boundary.residual_s": "s", "boundary.share": "ratio",
    "boundary.to_python_mb": "MB", "boundary.from_python_mb": "MB",
    "pipeline.extract_count_s": "s", "pipeline.lineage_write_s": "s",
    "pipeline.docs_skipped": "count",
    "tableio.read_s": "s", "tableio.write_s": "s", "tableio.write_mb": "MB",
    "tableio.files_written": "count", "tableio.manifest_kb": "KB",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.sched_delay_s": "s", "spark.tasks": "count",
    "spark.task_s_p50": "s", "spark.task_s_max": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.jvm_heap_mb": "MB",
    "spark.managed_heap_mb": "MB",
    "extract.ms_per_doc": "ms", "extract.self_ms": "ms/doc",
    "extract.replay_ms": "ms/doc",
    "pdfparse.ms": "ms/doc", "pdfparse.decoded_mb": "MB/doc",
    "textops.ms": "ms/doc", "textops.pages": "count/doc",
    "textops.runs": "count/doc",
    "layout.ms": "ms/doc", "layout.lines": "count/doc",
    "layout.boilerplate_dropped": "count/doc",
    "textrules.ms": "ms/doc", "textrules.join_calls": "count/doc",
    "langid.ms": "ms/doc", "langid.calls": "count/doc",
    "sigkernel.ms_per_kdoc": "ms", "sigkernel.shingles": "count",
    "dedup.candidate_rows": "count", "dedup.pairs_out": "count",
    "dedup.useful_ratio": "ratio",
    "trace.overhead_frac": "ratio",
}

SPAN_SAMPLE = 60     # docs whose span sequences are checked and replayed
ORACLE_DOCS = 1_500  # near-dup docs the SQL oracle runs over


def _restore(pristine: str | None, out: str) -> None:
    """Reset an output table and its lineage table to a saved state
    (or to absent)."""
    for suffix in ("", "_lineage"):
        shutil.rmtree(out + suffix, ignore_errors=True)
        if pristine is not None:
            shutil.copytree(pristine + suffix, out + suffix)


def _files(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    return {f: os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet")}


class _Workload:
    def __init__(self, spark, seed: int, cores: int, tmp: str):
        self.spark, self.seed, self.cores, self.tmp = spark, seed, cores, tmp
        self.main_runs: list[dict] = []
        self.slot_runs: list[dict] = []
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.traced_jobs = 0
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase into ``self.phases``."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = round(time.perf_counter() - t0, 3)

    def _p(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def _one_slot(self, on: bool) -> None:
        conf = self.spark.conf
        conf.set("spark.sql.shuffle.partitions", "1" if on else str(self.cores))
        if on:
            conf.set("spark.pdfx.scan.repartition", "never")
        else:
            conf.unset("spark.pdfx.scan.repartition")

    def run_traced(self, deadline: float, group: str) -> None:
        sc = self.spark.sparkContext
        while True:
            sc.setJobGroup(group, group)
            try:
                self.traced_job()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.traced_jobs += 1
            if time.perf_counter() >= deadline:
                break

    def event_log_metrics(self, event_dir: str, group: str) -> dict:
        return boundary(trace.spark_metrics(event_dir, group, self.traced_jobs),
                        self.kernel_s_per_job)


class PipelineWorkload(_Workload):
    name = ""
    docs_per_core = 0
    heavy_every: int | None = None
    preseed = False          # restore a committed quarter before each job
    num_partitions = False   # pass num_partitions (the two-lane split)

    def setup(self) -> None:
        with self.phase("generate"):
            self._generate()
        with self.phase("preseed"):
            self._preseed()
        with self.phase("oracle"):
            self._oracle()
        with self.phase("warm_up"):
            # job walls keep falling over the first jobs of each kind: with
            # one timed job fewer here the first measured one ran 5-15%
            # slower than the rest, with one one-slot job fewer the first
            # measured one ran slower in seven runs of ten
            for job in (self.timed_job, self.slot_job) * 2:
                job(record=False)

    def _generate(self) -> None:
        n = self.docs_per_core * self.cores
        self.rows = gen.pipeline_rows(self.name, self.seed, n, self.heavy_every)
        self.slice = self.rows[:self.docs_per_core]
        gen.write_table(self.rows, self._p("in_main"), self.n_files(),
                        gen.PIPELINE_SCHEMA)
        gen.write_table(self.slice, self._p("in_slice"), 1, gen.PIPELINE_SCHEMA)
        rng = random.Random(f"preseed/{self.seed}")
        self.seeded = (set(rng.sample([r["doc_id"] for r in self.rows], n // 4))
                       if self.preseed else set())
        # per input table: every doc_id committed after a job (the table's
        # and the seeded ones), and the docs a job extracts
        self.tables = {}
        for key, rows in (("main", self.rows), ("slice", self.slice)):
            todo = [r for r in rows if r["doc_id"] not in self.seeded]
            self.tables[key] = {
                "ids": sorted({r["doc_id"] for r in rows} | self.seeded),
                "todo": [r["doc_id"] for r in todo],
                "pdf_bytes": sum(len(p) for r in todo
                                 for p in gen.pdf_payloads(r))}

    def _preseed(self) -> None:
        """Commit the seeded quarter once; each job, the one-slot job too,
        restores this state, so both anti-join against the same quarter."""
        self.pristine = None
        if self.preseed:
            from pdf_extract_spark.plans.pipeline import run_pipeline

            src = self._p("seed")
            gen.write_table([r for r in self.rows if r["doc_id"] in self.seeded],
                            src, 1, gen.PIPELINE_SCHEMA)
            self.pristine = self._p("pristine")
            run_pipeline(self.spark, src, self.pristine)

    def _oracle(self) -> None:
        """The sampled docs' spans from an in-process extract_pdf."""
        todo = [r for r in self.rows if r["doc_id"] not in self.seeded]
        rng = random.Random(f"sample/{self.seed}")
        heavy = [r for r in todo if self._is_heavy(r)]
        light = [r for r in todo if not self._is_heavy(r)]
        k_heavy = round(SPAN_SAMPLE * len(heavy) / len(todo))
        self.sample = rng.sample(light, SPAN_SAMPLE - k_heavy) + heavy[:k_heavy]
        self.expected = {r["doc_id"]: check.expected_spans(r)
                         for r in self.sample}

    @staticmethod
    def _is_heavy(row: dict) -> bool:
        return any(len(s["text"]) > 1_000_000 for s in row["spans"])

    def describe(self) -> dict:
        pdf = sum(len(p) for r in self.rows for p in gen.pdf_payloads(r))
        return {"workload": self.name, "seed": self.seed,
                "digest": gen.digest(self.rows), "docs": len(self.rows),
                "docs_preseeded": len(self.seeded),
                "pdf_mb": round(pdf / 1e6, 3),
                "heavy_docs": sum(map(self._is_heavy, self.rows)),
                "files": self.n_files()}

    def _job(self, table: str, slot: bool):
        from pdf_extract_spark.plans.pipeline import run_pipeline

        out = self._p(f"out_{table}")
        _restore(self.pristine, out)
        kwargs = {"resume": self.preseed}
        if self.num_partitions:
            kwargs["num_partitions"] = 1 if slot else self.cores
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self._p(f"in_{table}"), out, **kwargs)
        wall = time.perf_counter() - t0
        t = self.tables[table]
        problems = check.check_committed(out, t["ids"])
        if res["n_docs"] != len(t["todo"]):
            problems.append(f"run_pipeline extracted {res['n_docs']} docs,"
                            f" expected {len(t['todo'])}")
        new = check.read_output(out, ["doc_id", "error", "extract_ms"],
                                t["todo"])
        errors = new.num_rows - new.column("error").null_count
        # extract_ms is truncated to whole milliseconds; adding back half a
        # millisecond a doc (the mean truncation) keeps the kernel time,
        # and so boundary.residual_s, free of a ~0.5 ms/doc rounding bias
        extract_ms = (sum(new.column("extract_ms").to_pylist())
                      + 0.5 * new.num_rows)
        return out, {"wall": wall, "docs": len(t["todo"]),
                     "bytes": t["pdf_bytes"],
                     "errors": errors, "problems": problems,
                     "extract_s": extract_ms / 1000,
                     "skipped": len(t["ids"]) - res["n_docs"]}

    def _record(self, runs: list, run: dict) -> None:
        runs.append(run)
        self.problems += run["problems"]
        self.attempted += run["docs"]
        self.failed += run["errors"]

    def timed_job(self, record: bool = True) -> dict:
        self.last_out, run = self._job("main", False)
        if record:
            self._record(self.main_runs, run)
        return run

    def slot_job(self, record: bool = True) -> None:
        self._one_slot(True)
        try:
            _, run = self._job("slice", True)
        finally:
            self._one_slot(False)
        if record:
            self._record(self.slot_runs, run)

    def final_check(self) -> list[str]:
        return check.check_spans(self.last_out, self.expected)

    # -- traced run --------------------------------------------------------
    def traced_job(self) -> None:
        before = _files(self.pristine or "")
        before_lin = _files((self.pristine or "") + "_lineage")
        with self.spans.patched():
            run = self.timed_job()
        out = self.last_out
        added = {f: s for f, s in _files(out).items() if f not in before}
        added.update({("lin", f): s for f, s in _files(out + "_lineage").items()
                      if f not in before_lin})
        self.io_stats.append({
            "mb": sum(added.values()) / 1e6, "files": len(added),
            "manifest_kb": os.path.getsize(
                os.path.join(out, "_snapshots.jsonl")) / 1024,
            "extract_s": run["extract_s"], "skipped": run["skipped"]})

    def run_traced(self, deadline: float, group: str) -> None:
        self.spans = trace.OrchestrationSpans()
        self.io_stats: list[dict] = []
        super().run_traced(deadline, group)

    def trace_metrics(self) -> dict:
        n = self.traced_jobs
        m = self.spans.summary(n)
        st = self.io_stats
        m.update({
            "tableio.write_mb": sum(s["mb"] for s in st) / n,
            "tableio.files_written": sum(s["files"] for s in st) / n,
            "tableio.manifest_kb": sum(s["manifest_kb"] for s in st) / n,
            "pipeline.docs_skipped": sum(s["skipped"] for s in st) / n,
        })
        self.kernel_s_per_job = sum(s["extract_s"] for s in st) / n
        payloads = [p for r in self.sample for p in gen.pdf_payloads(r)]
        m.update(trace.replay_extract(payloads))
        texts = extracted_texts(self.last_out)
        nd = trace.replay_neardup(texts)
        nd.pop("kernel_s")
        m.update(nd)
        return m


def extracted_texts(out: str) -> list[str]:
    """One document text per extracted doc: its text spans joined, the
    ``documents`` table an extraction job feeds to near-dup."""
    t = check.read_output(out, ["spans"])
    return [" ".join(s["text"] for s in spans or [] if s["kind"] == "text")
            for spans in t.column("spans").to_pylist()]


def boundary(spark_m: dict, kernel_s: float) -> dict:
    """Spark metrics plus the Python-boundary residual: run time of the
    stages that ship rows to Python minus the kernel time spent in them."""
    py = spark_m.pop("python_stage_run_s")
    spark_m["boundary.residual_s"] = py - kernel_s
    spark_m["boundary.share"] = (py - kernel_s) / py if py else 0.0
    return spark_m


class PipelineSmall(PipelineWorkload):
    name = "pipeline_small"
    docs_per_core = gen.SMALL_DOCS_PER_CORE
    preseed = True

    def n_files(self) -> int:
        return gen.SMALL_FILES_PER_CORE * self.cores


class PipelineSkew(PipelineWorkload):
    name = "pipeline_skew"
    docs_per_core = gen.SKEW_DOCS_PER_CORE
    heavy_every = gen.HEAVY_EVERY
    num_partitions = True

    def n_files(self) -> int:
        return gen.SKEW_FILES


class NearDup(_Workload):
    name = "neardup"

    def setup(self) -> None:
        import duckdb

        from pdf_extract_spark.queries import ORACLES

        with self.phase("generate"):
            n = gen.NEARDUP_DOCS_PER_CORE * self.cores
            self.rows = gen.neardup_rows(self.seed, n)
            self.n_slice = gen.NEARDUP_DOCS_PER_CORE
            for table, rows, files in (
                    ("main", self.rows, gen.NEARDUP_FILES_PER_CORE * self.cores),
                    ("slice", self.rows[:self.n_slice], 1)):
                gen.write_table(
                    rows, os.path.join(self._p(table), "documents.parquet"),
                    files, gen.DOCUMENTS_SCHEMA)
            self.text_bytes = sum(len(r["text"].encode()) for r in self.rows)
        with self.phase("oracle"):
            # on the first ORACLE_DOCS docs only: the SQL oracle over the
            # full table costs more than the whole measured phase
            con = duckdb.connect()
            try:
                con.sql("create view documents as select * from"
                        f" '{self._p('slice')}/documents.parquet/*.parquet'"
                        f" where doc_id < {ORACLE_DOCS}")
                self.oracle = {(a, b) for a, b, _ in
                               con.sql(ORACLES["dedup_minhash_lsh"]).fetchall()}
            finally:
                con.close()
        with self.phase("warm_up"):
            # job walls keep falling over the first seven or so jobs: with
            # four warm-up jobs here the first measured jobs ran 10-25%
            # slower than the last ones of a run
            for job in (self.timed_job, self.slot_job) * 2 + (self.timed_job,):
                job(record=False)

    def describe(self) -> dict:
        return {"workload": self.name, "seed": self.seed,
                "digest": gen.digest(self.rows), "docs": len(self.rows),
                "text_mb": round(self.text_bytes / 1e6, 3),
                "oracle_pairs": len(self.oracle),
                "files": gen.NEARDUP_FILES_PER_CORE * self.cores}

    def _job(self, table: str):
        from pdf_extract_spark.queries import QUERIES
        from pdf_extract_spark.runtime import release_caches

        t0 = time.perf_counter()
        rows = QUERIES["dedup_minhash_lsh"](self.spark, self._p(table)).collect()
        wall = time.perf_counter() - t0
        release_caches()
        return {"wall": wall, "pairs": {(r[0], r[1]) for r in rows},
                "table": table}

    def _record(self, runs: list, run: dict, n_docs: int, text_bytes: int):
        run.update(docs=n_docs, bytes=text_bytes)
        runs.append(run)
        self.attempted += n_docs

    def timed_job(self, record: bool = True) -> None:
        run = self._job("main")
        if record:
            self._record(self.main_runs, run, len(self.rows), self.text_bytes)

    def slot_job(self, record: bool = True) -> None:
        self._one_slot(True)
        try:
            run = self._job("slice")
        finally:
            self._one_slot(False)
        if record:
            sl = self.rows[:self.n_slice]
            self._record(self.slot_runs, run, len(sl),
                         sum(len(r["text"].encode()) for r in sl))

    def final_check(self) -> list[str]:
        """Every job's pairs among the first ``ORACLE_DOCS`` docs equal
        the oracle's on those docs (a pair is decided by its two docs
        alone), and every job over a table gives the same pair set."""
        problems = []
        first = {}
        for run in self.main_runs + self.slot_runs:
            got = run["pairs"]
            if first.setdefault(run["table"], got) != got:
                problems.append(f"jobs over {run['table']} gave different"
                                " pair sets")
            problems += check.check_pairs(
                {(a, b) for a, b in got if b < ORACLE_DOCS}, self.oracle)
        return problems

    # -- traced run --------------------------------------------------------
    traced_job = timed_job

    def trace_metrics(self) -> dict:
        from pdf_extract_spark.plans.pipeline import run_pipeline

        m = trace.replay_neardup([r["text"] for r in self.rows])
        self.kernel_s_per_job = m.pop("kernel_s")
        # the extraction-side layers on a side sample of pipeline docs
        side = gen.pipeline_rows("pipeline_small", self.seed, SPAN_SAMPLE, None)
        m.update(trace.replay_extract(
            [p for r in side for p in gen.pdf_payloads(r)]))
        gen.write_table(side, self._p("side_in"), 1, gen.PIPELINE_SCHEMA)
        spans = trace.OrchestrationSpans()
        with spans.patched():
            run_pipeline(self.spark, self._p("side_in"), self._p("side_out"))
        m.update(spans.summary(1))
        files = _files(self._p("side_out"))
        lin = _files(self._p("side_out") + "_lineage")
        m.update({
            "tableio.write_mb": (sum(files.values()) + sum(lin.values())) / 1e6,
            "tableio.files_written": float(len(files) + len(lin)),
            "tableio.manifest_kb": os.path.getsize(os.path.join(
                self._p("side_out"), "_snapshots.jsonl")) / 1024,
            "pipeline.docs_skipped": 0.0,
        })
        return m


WORKLOADS = {w.name: w for w in (PipelineSmall, PipelineSkew, NearDup)}
