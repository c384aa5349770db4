"""Self-test of the benchmark: one pass of each workload on tiny inputs.

Checks that every metric BENCHMARK.json names is printed with its unit,
that a deliberately corrupted output is counted in ``failed``, and that
the benchmark refuses to run without the package next to it.

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

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# shrink the inputs, keep every op of every workload; for the negative
# control, hand the check a deliberately wrong output of one query
SMALL = """
import sys
sys.path.insert(0, {bench!r})
import check
import run

run.WORKLOADS["fits"].update(sf=0.001)
run.WORKLOADS["intervals"].update(sf=0.001)
run.WORKLOADS["intervals"]["stream"].update(files=1, rows_per_file=500)

CORRUPT = {corrupt!r}
if CORRUPT == run.STREAM:
    check_intervals = check.check_intervals
    check.check_intervals = lambda got, *rest: check_intervals(
        check.corrupt(got), *rest)
elif CORRUPT:
    from pywrangler_spark.queries import ORACLES

    oracle_check = check.Oracle.check
    check.Oracle.check = lambda self, got, sql: oracle_check(
        self, check.corrupt(got) if sql == ORACLES[CORRUPT] else got, sql)
sys.exit(run.main(sys.argv[1:]))
"""


def bench(workload: str, trace: int, corrupt: str = "") -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "-c", SMALL.format(bench=BENCH, corrupt=corrupt),
         "--workload", workload, "--seed", "5", "--seconds", "0",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for value in result["metrics"].values():
        assert isinstance(value["value"], (int, float))


def test_workloads_match_spec():
    sys.path.insert(0, BENCH)
    import run

    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(run.WORKLOADS)
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in SPEC["per_layer"]] == list(run.PER_LAYER)


def test_fits_end_to_end_and_corrupted_output_counts():
    report, result = bench("fits", 0, corrupt="classifier_quality_gate")
    assert_metrics(result, SPEC["end_to_end"])
    assert not result["correct"]
    # every op of the corrupted query counts: one cold and one warm. On
    # this 500-vector corpus the IVF recall gate may fail on its own;
    # then its two ops count as well
    assert "classifier_quality_gate" in report["failures"]
    assert set(report["failures"]) <= {"classifier_quality_gate",
                                       "ann_topk_ivf"}
    assert result["failed"] == 2 * len(report["failures"])
    assert report["failed_frac"] == result["failed"] / result["attempted"]
    assert result["metrics"]["cold_pass_cpu_s"]["value"] > 0
    assert report["setup_wall_s"] > 0
    assert set(report["unbounded"]) == {
        "op_cpu_p90_s", "cold_pass_s", "op_p50_s", "op_p90_s", "ops_per_min"}


def test_intervals_end_to_end_correct():
    report, result = bench("intervals", 0)
    assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"], report["failures"]
    assert result["failed"] == 0 and report["failed_frac"] == 0


def test_intervals_traced_and_corrupted_stream_counts():
    report, result = bench("intervals", 1, corrupt="stream_intervals")
    assert_metrics(result, SPEC["per_layer"])
    assert not result["correct"]
    assert set(report["failures"]) == {"stream_intervals"}
    assert result["failed"] > 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["streaming.add_batch_s"] > 0
    assert m["queries.plan_s"] > 0
    assert m["operators.task_s"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "fits",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
