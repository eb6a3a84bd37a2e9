"""The benchmark's own test: tiny-size runs of the one command.

    python3 perfbench/test_smoke.py        (or: python3 -m pytest perfbench)

Run from the repository root; takes a few minutes (each case starts
Spark). Proves that ``BENCHMARK.json`` is the one ``spec.py`` describes,
that every workload prints every named metric with its unit in both
modes, that every output check can fail, and that the command refuses
to run without the engine beside it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402  (needs HERE on sys.path)

#: the workload metrics each report line must carry, beside the
#: set-up, memory and failure figures every workload reports
REPORT_METRICS = {
    "batch_cold": {"docs_per_s", "resume_noop_s"},
    "ingest_incremental": {"loop_wall_s", "batch_p50_s", "lookup_p50_s",
                           "lookup_p90_s", "cdc_read_p50_s"},
    "corpus_dedup": {"dedup_suite_s"},
}


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        raise AssertionError(f"{workload}: no result\n{proc.stderr[-3000:]}")
    return proc.returncode, json.loads(lines[-2])["report"], \
        json.loads(lines[-1])


def _units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == spec.benchmark_json()


def _check_workload(workload: str) -> None:
    rc, report, res = _run(workload, 0, "--smoke")
    assert rc == 0 and res["correct"] and res["failed"] == 0, report
    assert _units(res["metrics"]) == {n: u for n, u, *_ in spec.END_TO_END}
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert report["checks"] and all(f == 0 for _, f in
                                    report["checks"].values())
    assert set(report["workload_metrics"]) == REPORT_METRICS[workload]
    assert report["failed_op_ratio"]["unit"] == "ratio"
    assert {"nproc", "load1_start", "load1_end", "steal_share",
            "contaminated"} <= set(report["host"])

    rc, report, res = _run(workload, 1, "--smoke")
    assert rc == 0 and res["correct"], report
    assert _units(res["metrics"]) == {n: u for n, u, _ in spec.per_layer()}

    rc, report, res = _run(workload, 0, "--smoke", "--sabotage")
    assert rc == 1 and not res["correct"]
    assert res["failed"] >= sum(a for a, _ in report["checks"].values())
    assert all(a > 0 and f == a for a, f in report["checks"].values()), \
        report["checks"]


def test_batch_cold():
    _check_workload("batch_cold")


def test_ingest_incremental():
    _check_workload("ingest_incremental")


def test_corpus_dedup():
    _check_workload("corpus_dedup")


def test_refuses_without_engine():
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             next(iter(spec.WORKLOADS)), "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare, capture_output=True, text=True,
            timeout=180)
        assert proc.returncode != 0 and proc.stdout.strip() == ""


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items())
             if k.startswith("test_") and callable(v)]
    for t in tests:
        print(t.__name__, flush=True)
        t()
    print(f"{len(tests)} passed")
