"""Per-round benchmark: the sf0.1 headline query suite, plus extraction
throughput and scaling from one ``perfbench`` ``pipeline_small`` run.

Prints two JSON lines. The first holds the evidence block: every raw
query run with its steal share and loadavg, the ``pipeline_small`` run's
inputs and evidence, and the harness commit. The last is the compact
headline:
  {"metric": "headline_suite_seconds", "value": <total seconds>,
   "unit": "sec", "flagged": {name: max/min run ratio, ...},
   "queries": {name: sec, ...}, "sf": <sf>,
   "extraction": {docs_per_sec, wall_s, correct, attempted, failed},
   "scaling": {cores_lo, cores_hi, efficiency, note},
   "docs_per_sec": <extraction docs_per_sec>}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32): the query suite's ``local[N]``.

Extraction and scaling come from ``perfbench/run.py --workload
pipeline_small``: ``run_pipeline(resume=True)`` end to end on a seeded
in-repo corpus, on every core this process may run on (perfbench's
README). ``extraction`` is its median job (``docs_per_s``, ``wall_s``);
``scaling.efficiency`` is its ``scaling_eff``, weak scaling of each
``local[N]`` job against a one-slot job over 1/N of the rows in the same
session. If its output checks fail, the headline ``value`` is null.

The query suite runs in perfbench's session, after a warm-up, two runs a
query. A query whose two runs differ by more than FLAG_RATIO× is
flagged: its time is reported as null and so is the suite total. Steal
is a share of busy jiffies, recorded with the 1-minute loadavg for every
timed run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

import host  # noqa: E402  perfbench's meters
import run  # noqa: E402  perfbench's session

BENCH_QUERIES = [
    "filter_project",
    "broadcast_dim_join",
    "modal_group",
    "boilerplate_tokens",
    "session_window",
    "run_length",
    "topk_revenue",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_containment",
    "dedup_sketch_pairs",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "text_fingerprint",
    "text_quality",
]

PIPELINE_SMALL = ["perfbench/run.py", "--workload", "pipeline_small",
                  "--seed", "1", "--seconds", "18", "--trace", "0"]

#: two runs of one query further apart than this ratio are one window
#: poisoned by a neighbour (or a cold cache), not an engine cost
FLAG_RATIO = 3.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    from pdf_extract_spark.queries import QUERIES

    small = run_pipeline_small()
    tmp = tempfile.mkdtemp(prefix="bench_")
    spark = None
    try:
        spark = run.session(cores, tmp, "bench", None)
        # JVM/JIT warm-up: the first lambda-heavy query otherwise pays
        # ~10s of interpreter warm-up (measured 11.7s cold vs 0.9s warm
        # for the identical plan); steady-state is the honest metric.
        # The mapInArrow path warms separately (python workers
        # import the signature kernel + numpy once per executor — at
        # sf0.001 this is < 1s; unwarmed it lands ~10s of one-time cost
        # on the first dedup query's recorded number). The bucketed
        # sketch dedup_sketch_pairs reads is written here too, once, as
        # production writes it at ingest: both timed runs only read it.
        from pdf_extract_spark.operators.dedup import ensure_sketch_table
        from pdf_extract_spark.runtime import release_caches

        ensure_sketch_table(spark, sf_dir)

        (QUERIES["text_fingerprint"](spark, "/root/testdata/sf0.001")
         .write.format("noop").mode("overwrite").save())
        (QUERIES["simhash_fingerprints"](spark, "/root/testdata/sf0.001")
         .write.format("noop").mode("overwrite").save())
        release_caches()
        raw_runs = run_queries(spark, sf_dir)
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    emit(summarize(raw_runs, small, sf))


def run_pipeline_small() -> dict:
    """One ``pipeline_small`` run in its own process: its last line (the
    metrics) and its ``inputs:`` and ``evidence:`` lines."""
    proc = subprocess.run([sys.executable, *PIPELINE_SMALL], cwd=ROOT,
                          capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        raise RuntimeError(f"perfbench pipeline_small exited {proc.returncode}:"
                           f" {proc.stderr[-2000:]}") from None
    for line in lines:
        key, _, rest = line.partition(": ")
        if key in ("inputs", "evidence"):
            out[key] = json.loads(rest)
    return out


def run_queries(spark, sf_dir: str) -> dict:
    """Two timed runs per query, each with its meters, in a warmed
    session."""
    from pdf_extract_spark.queries import QUERIES
    from pdf_extract_spark.runtime import release_caches

    raw_runs: dict[str, list] = {}
    for name in BENCH_QUERIES:
        runs = []
        for _ in range(2):
            j0, t0 = host.cpu_jiffies(), time.perf_counter()
            (QUERIES[name](spark, sf_dir)
             .write.format("noop").mode("overwrite").save())
            dt = time.perf_counter() - t0
            runs.append({"sec": round(dt, 3),
                         "steal_share": round(
                             host.steal_share(j0, host.cpu_jiffies()), 4),
                         "loadavg_1m": host.loadavg_1m()})
            # each invocation persists fresh intermediates (caller-owned
            # lifetime): release them outside the timer
            release_caches()
        raw_runs[name] = runs
    return raw_runs


def emit(result: dict) -> None:
    """Print ``result``'s evidence block on its own line, then the rest
    as one compact headline line, the last line of the output."""
    headline = dict(result)
    print(json.dumps({"evidence": headline.pop("evidence")}))
    print(json.dumps(headline, separators=(",", ":")))


def summarize(raw_runs: dict, small: dict, sf: float) -> dict:
    """The bench's result from the query suite's ``raw_runs`` and
    ``small``, one parsed ``pipeline_small`` run."""
    m = {k: v["value"] for k, v in small["metrics"].items()}
    # a query reports the min of its runs; a flagged query's window
    # reports nothing: neither its time nor the suite total built from it
    timings, flagged = {}, {}
    for name, runs in raw_runs.items():
        lo, hi = min(r["sec"] for r in runs), max(r["sec"] for r in runs)
        timings[name] = lo
        if lo > 0 and hi / lo > FLAG_RATIO:
            flagged[name] = round(hi / lo, 2)
            timings[name] = None
    extraction = {"docs_per_sec": round(m["docs_per_s"], 2),
                  "wall_s": round(m["wall_s"], 3),
                  "correct": small["correct"],
                  "attempted": small["attempted"], "failed": small["failed"]}
    total = (round(sum(timings.values()) + m["wall_s"], 2)
             if small["correct"] and not flagged else None)
    return {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "flagged": flagged,
        "queries": timings,
        "sf": sf,
        "extraction": extraction,
        "scaling": {
            "cores_lo": 1, "cores_hi": small["evidence"]["cores"],
            "efficiency": round(m["scaling_eff"], 3),
            "note": ("perfbench pipeline_small weak scaling: each "
                     "local[N] run_pipeline job against a one-slot job "
                     "over 1/N of the rows in the same session"),
        },
        "docs_per_sec": extraction["docs_per_sec"],
        "evidence": {
            "harness_commit": host.harness_commit(ROOT),
            "queries_raw": raw_runs,
            "pipeline_small": {k: small[k] for k in
                               ("inputs", "evidence", "metrics")},
            "note": ("queries = min of the recorded runs; "
                     "dedup_sketch_pairs' bucketed sketch is written "
                     "once in the warm-up (at ingest in production), so "
                     "both its runs only read it"),
        },
    }


if __name__ == "__main__":
    main()
