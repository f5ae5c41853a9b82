"""Tests of the lake benchmark itself.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

They use the ``tiny`` input size and one in-process Spark session, so
they exercise every workload, the tracer and the regression check in a
couple of minutes.
"""

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.compare import load_spec, regressions, spread  # noqa: E402
from perfbench.harness import (END_TO_END_UNITS, PER_LAYER_UNITS,  # noqa: E402
                               run_workload)
from perfbench.workloads import WORKLOADS  # noqa: E402

DETERMINISTIC = [
    "spark.jobs.append",
    "spark.jobs.dml",
    "spark.jobs.read",
    "spark.jobs.fold",
    "iceberg.commitReport.addedDataFiles",
    "table.plan.files_kept_ratio",
]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_spark, stop_spark

    s = start_spark(2, str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_spark(s)


def _run(spark, tmp_path, name, **kw):
    kw.setdefault("seconds", 0)  # exactly the workload's min_cycles cycles
    kw.setdefault("trace", False)
    return run_workload(spark, name, seed=kw.pop("seed", 3), work_dir=str(tmp_path),
                        size="tiny", setup_reps=1, **kw)


def test_spec_names_match_the_harness():
    spec = load_spec()
    assert {m["name"] for m in spec["end_to_end"]} == set(END_TO_END_UNITS)
    assert {m["name"] for m in spec["per_layer"]} == set(PER_LAYER_UNITS)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        want = END_TO_END_UNITS.get(m["name"]) or PER_LAYER_UNITS[m["name"]]
        assert m["unit"] == want


@pytest.mark.parametrize("name", list(WORKLOADS))
@pytest.mark.parametrize("size", ["tiny", "full"])
def test_same_seed_same_inputs(name, size):
    cls = WORKLOADS[name]
    a = cls(11, size).input_digest(30)
    assert a == cls(11, size).input_digest(30)
    assert a != cls(12, size).input_digest(30)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_smoke_run_is_correct(spark, tmp_path, name):
    r = _run(spark, tmp_path, name)
    assert r["correct"], r["details"]["failures"]
    assert r["failed"] == 0 and r["attempted"] > 0
    assert set(r["metrics"]) == set(END_TO_END_UNITS)
    for m in r["metrics"].values():
        assert math.isfinite(m["value"]) and m["value"] > 0


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_counts_repeat_exactly(spark, tmp_path, name):
    a = _run(spark, tmp_path / "a", name, trace=True)
    b = _run(spark, tmp_path / "b", name, trace=True)
    assert a["correct"] and b["correct"]
    assert set(a["metrics"]) == set(PER_LAYER_UNITS)
    for metric in DETERMINISTIC:
        assert a["metrics"][metric] == b["metrics"][metric], metric
    assert a["metrics"]["commitio.publish.calls"]["value"] > 0


def test_injected_sleep_is_flagged(spark, tmp_path):
    spec = load_spec()
    base = _run(spark, tmp_path / "base", "ingest_stream")
    slow = _run(spark, tmp_path / "slow", "ingest_stream",
                inject={"commitio.publish": 300.0})
    assert base["correct"] and slow["correct"]
    flagged = regressions([base], [slow], spec)
    assert any(line.startswith("append_p50_ref_ms") for line in flagged), flagged
    assert not regressions([base], [base], spec)


def test_spread_is_iqr_over_median():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(0.15)


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark's own files, the command
    fails without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_stream", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
