"""Smoke test of the benchmark: tiny inputs, every workload, both modes.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that every end-to-end and per-layer metric named in
BENCHMARK.json is printed with its unit, that the output checks ran and
passed, and that the benchmark refuses to run without the engine. One
more test pins the known q24 defect that keeps q24 out of the catalog
workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_metrics_and_checks(workload: str, trace: int) -> None:
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "2", "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1, "the output checks did not run"
    assert result["failed"] == 0 and result["correct"] is True, p.stdout
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_refuses_without_engine(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__")
        )
    p = _run(str(tmp_path), "--workload", "batch_fresh", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="known defect: q24 fk_grade rounds half-way points unlike its DuckDB oracle",
)
def test_q24_known_defect(tmp_path) -> None:
    """q24_quality_score against its DuckDB oracle on a generated catalog
    where one fk_grade falls on a 4-decimal half-way point. While this
    fails, q24 stays out of workloads.CATALOG_FAMILIES; once the engine is
    fixed it passes, and strict xfail turns that into a failure that asks
    for q24 to be put back."""
    for p in (ROOT, os.path.join(ROOT, "perfbench")):
        if p not in sys.path:
            sys.path.insert(0, p)
    import checks
    import inputs
    from pmocr_spark.session import get_spark

    cat = inputs.catalog(str(tmp_path), 486473356, frac=0.5)
    spark = get_spark(
        app="perfbench-q24",
        master="local[2]",
        extra={"spark.driver.memory": "1g", "spark.ui.enabled": "false"},
    )
    try:
        _, failed, notes = checks.catalog_parity(spark, cat, ["q24_quality_score"])
    finally:
        spark.stop()
    if any("differs from its oracle" not in n for n in notes):
        raise RuntimeError(notes)  # raised instead of differing: not the known defect
    assert failed == 0, notes
