"""Benchmark of pdf_extract_spark: ``run_pipeline`` and the
``dedup_minhash_lsh`` query end to end on seeded workloads.

Run from the repository root::

    python3 perfbench/run.py --workload pipeline_small --seed 1 \
        --seconds 15 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a
separate run that measures the per-layer metrics (see README.md). Both
print their metrics by name and unit, then, as the last line, one JSON
object with the keys ``correct``, ``attempted``, ``failed``, ``metrics``.
The exit code is 1 when an output check fails, 2 when the package cannot
be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# JVM heap, committed and touched at start: left to grow, the heap's size
# follows the collector's pause-time heuristics, and the JVM's resident
# size spread 0.24 (quartile distance / median) over ten runs of
# pipeline_small on 4 cores. The heap is a budget the user sets; what the jobs use
# of it is in the traced run (spark.jvm_heap_mb, spark.managed_heap_mb).
# With the Python workers it stays well inside 15 GB
JVM_HEAP = "2g"
TIMED_GROUP = "perfbench-timed"
MAINS_PER_SLOT = 2

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
    "input_mb_per_s": "MB/s", "scaling_eff": "ratio", "peak_rss_mb": "MB",
    "py_rss_mb": "MB",
}


def session(cores: int, tmp: str, app: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores}]").appName(app)
         .config("spark.driver.memory", JVM_HEAP)
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(tmp, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch"
                 f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"))
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             # per-task peaks of the executor's memory in the event log
             .config("spark.executor.metrics.pollingInterval", "100ms"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait for each to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from host import descendants

    left = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError:  # the gateway connection broke mid-call (SIGTERM)
        pass
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        if left and time.monotonic() > deadline - 20:
            for p in left:
                try:
                    os.kill(p, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    # a terminated run still stops the JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pdf_extract_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import pdf_extract_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    event_dir = os.path.join(tmp, "events") if args.trace else None
    spark = None
    try:
        spark = session(cores, tmp, f"perfbench-{args.workload}", event_dir)
        w = WORKLOADS[args.workload](spark, args.seed, cores, tmp)
        w.phases["session"] = round(time.perf_counter() - t_start, 3)
        w.setup()
        setup_s = time.perf_counter() - t_start
        print(f"inputs: {json.dumps(w.describe())}")
        print(f"setup phases (s): {json.dumps(w.phases)}")

        jiffies0, rss = host.cpu_jiffies(), host.RssSampler().start()
        deadline = time.perf_counter() + args.seconds
        if args.trace:
            w.run_traced(deadline, TIMED_GROUP)
        else:
            # timed jobs set the reported medians, so most of the window
            # goes to them; a one-slot job follows every MAINS_PER_SLOT
            while True:
                w.timed_job()
                if len(w.main_runs) % MAINS_PER_SLOT == 0:
                    w.slot_job()
                if time.perf_counter() >= deadline and w.slot_runs:
                    break
        peak_rss = rss.stop()
        jiffies1 = host.cpu_jiffies()
        problems = w.final_check()
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
                if k.startswith(("spark.sql.", "spark.driver.memory",
                                 "spark.master", "spark.eventLog.enabled"))}
        evidence = {
            "steal_share_of_busy": round(host.steal_share(jiffies0, jiffies1), 4),
            "loadavg_1m": host.loadavg_1m(),
            "harness_commit": host.harness_commit(ROOT),
            "cores": cores, "spark_conf": conf,
            "peak_jvm_rss_mb": round(rss.peak_jvm_mb, 1),
        }
        if args.trace:
            layer = w.trace_metrics()
        stop_spark(spark)
        spark = None
        if args.trace:
            layer.update(w.event_log_metrics(event_dir, TIMED_GROUP))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run still uses it
            pass

    problems += w.problems
    attempted, failed = w.attempted, w.failed
    print(f"evidence: {json.dumps(evidence, sort_keys=True)}")
    if args.trace:
        from workloads import PER_LAYER_UNITS

        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        mains, slots = w.main_runs, w.slot_runs
        # each one-slot job against the timed jobs right before it, so a
        # slow spell of the machine hits both sides of a ratio alike
        eff = [statistics.median(m["docs"] / m["wall"] for m in
                                 mains[k * MAINS_PER_SLOT:(k + 1) * MAINS_PER_SLOT])
               / (cores * s["docs"] / s["wall"])
               for k, s in enumerate(slots)]
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(r["wall"] for r in mains),
            "docs_per_s": statistics.median(r["docs"] / r["wall"] for r in mains),
            "input_mb_per_s": statistics.median(
                r["bytes"] / 1e6 / r["wall"] for r in mains),
            "scaling_eff": statistics.median(eff),
            "peak_rss_mb": peak_rss,
            "py_rss_mb": rss.py_peak_mb,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
        print(f"job walls (s): local[{cores}]"
              f" {[round(r['wall'], 3) for r in mains]},"
              f" one slot {[round(r['wall'], 3) for r in slots]}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    report = dict((k, (m["value"], m["unit"])) for k, m in metrics.items())
    report["error_frac"] = (failed / attempted if attempted else 0.0, "ratio")
    report["output_ok"] = (0 if problems else 1, "bool")
    for k, (v, u) in report.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
