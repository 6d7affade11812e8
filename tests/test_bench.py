"""bench.py's output: a reader that keeps only the last 2,000 characters
must still get the whole headline."""

import json

import bench


def _small(correct: bool = True) -> dict:
    """A parsed ``perfbench/run.py --workload pipeline_small`` run."""
    metrics = {k: {"value": v, "unit": u} for k, v, u in [
        ("setup_s", 34.8, "s"), ("wall_s", 3.172, "s"),
        ("docs_per_s", 568.9, "1/s"), ("input_mb_per_s", 9.1, "MB/s"),
        ("scaling_eff", 0.871, "ratio"), ("peak_rss_mb", 3262.0, "MB"),
        ("py_rss_mb", 596.0, "MB")]}
    return {"correct": correct, "attempted": 9600, "failed": 0,
            "metrics": metrics,
            "inputs": {"workload": "pipeline_small", "seed": 1,
                       "docs": 2400, "files": 32},
            "evidence": {"cores": 4, "loadavg_1m": 2.5,
                         "steal_share_of_busy": 0.001}}


def _raw_runs() -> dict:
    return {name: [{"sec": 12.345 + i, "steal_share": 0.0123,
                    "loadavg_1m": 13.21} for i in range(2)]
            for name in bench.BENCH_QUERIES}


def _emitted(capsys, small: dict) -> list[str]:
    bench.emit(bench.summarize(_raw_runs(), small, 0.1))
    return capsys.readouterr().out.splitlines()


def test_headline_is_a_short_last_line(capsys):
    lines = _emitted(capsys, _small())
    assert len(bench.BENCH_QUERIES) == 16
    evidence = json.loads(lines[0])["evidence"]
    assert evidence["queries_raw"] == _raw_runs()
    assert len(lines[-1]) < 2000
    head = json.loads(lines[-1])
    assert {"metric", "value", "unit", "queries", "sf", "extraction",
            "scaling", "docs_per_sec"} <= set(head)
    assert head["docs_per_sec"] == head["extraction"]["docs_per_sec"] == 568.9
    assert head["scaling"]["efficiency"] == 0.871
    assert (head["scaling"]["cores_lo"], head["scaling"]["cores_hi"]) == (1, 4)
    assert head["value"] == round(sum(head["queries"].values()) + 3.172, 2)


def test_failed_output_check_nulls_the_headline(capsys):
    head = json.loads(_emitted(capsys, _small(correct=False))[-1])
    assert head["value"] is None
    assert head["extraction"]["correct"] is False
