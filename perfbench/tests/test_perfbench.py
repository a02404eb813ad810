"""Self-test of the benchmark on a tiny sf0.001 configuration.

Runs every workload once untraced and once traced, checks that each
metric named in ``BENCHMARK.json`` is emitted exactly once with its unit,
that a corrupted expected hash becomes a counted failure, and that the
benchmark refuses to run without the program next to it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--sf", "0.001", "--seconds", "3"]
# per-layer metrics that must be positive in a traced run of the workload
# that runs their layer: counts that the op mix fixes, and span timings
RAN = {
    "ingest": ["batch_samples", "flight.list_flights_per_batch",
               "flight.do_get_per_batch", "streaming.batches",
               "streaming.add_batch_ms_p50", "lakehouse.append_ms_p50",
               "lakehouse.files_per_commit", "spark.jobs_per_batch"],
    "lake_mix": ["lookup_samples", "lakehouse.update_ms_p50",
                 "lakehouse.delete_ms_p50", "lakehouse.pruned_files_ms_p50",
                 "lakehouse.files_per_lookup", "lakehouse.files_rewritten_per_write",
                 "lakehouse.live_files", "spark.jobs_per_merge",
                 "spark.jobs_per_lookup"],
    "analytics": [f"{kind}.{e}.{m}" for e in metrics.ENTRIES
                  for kind, m in (("op", "ms"), ("spark", "jobs"), ("spark", "tasks"))],
}


def _no_duplicates(pairs):
    keys = [k for k, _ in pairs]
    assert len(keys) == len(set(keys)), f"duplicate keys in {keys}"
    return dict(pairs)


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--trace", str(trace),
         *TINY, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1],
                      object_pairs_hook=_no_duplicates)


def test_spec_matches_metric_lists():
    assert [w["name"] for w in SPEC["workloads"]] == ["ingest", "lake_mix", "analytics"]
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in SPEC["end_to_end"]] == [tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        tuple(m[:3]) for m in metrics.PER_LAYER]


def test_a_missing_metric_is_an_error():
    values = {name: 1.0 for name, *_ in metrics.END_TO_END[1:]}
    with pytest.raises(KeyError, match="setup_s"):
        metrics.emit(values, trace=False)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ingest", "lake_mix", "analytics"])
def test_every_metric_once_with_unit(workload, trace):
    out = result(bench(workload, trace))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    listed = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        for name in RAN[workload] + ["session.start_s", "proc.peak_rss_mb"]:
            assert out["metrics"][name]["value"] > 0, name


@pytest.mark.parametrize("workload", ["ingest", "lake_mix", "analytics"])
def test_corrupted_expected_hash_is_a_counted_failure(workload):
    out = result(bench(workload, 0, "--corrupt-check"))
    assert out["correct"] is False
    assert out["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = bench("lake_mix", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
