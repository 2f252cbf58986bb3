"""Self-test of the benchmark.

Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

The fast tests cover the tracer's bookkeeping. The smoke tests run every
workload at sf0.001 on its first two queries, once untraced and once
traced, and check the printed result against ``BENCHMARK.json``: every
metric by name with its unit, and no failed or mismatched query.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_job_phase_names_the_innermost_phase():
    assert trace.job_phase("w#0#q_x#build") == "build"
    assert trace.job_phase("w#0#q_x#build>materialize.3") == "materialize"
    assert trace.job_phase("w#0#q_x#build>materialize.3>materialize.4") == "materialize"
    assert trace.job_phase("0f3c6a4e-2b1d-4c0e-9a7f-1d2e3f4a5b6c") == "stream"
    assert trace.job_phase("") == "other"


def test_self_time_subtracts_children():
    t = trace.Tracer()
    t.spans = [
        {"id": 0, "name": "query", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "build", "parent": 0, "start": 0.0, "end": 6.0},
        {"id": 2, "name": "materialize", "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "name": "exec", "parent": 0, "start": 6.0, "end": 9.0},
    ]
    assert t.self_times() == {0: 1.0, 1: 2.0, 2: 4.0, 3: 3.0}


def test_workloads_match_the_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_every_scale_holds_every_catalog_table():
    from bigdata_deepfakeanalysis_spark.catalog import TABLES

    for sf in sorted({w.sf_name for w in WORKLOADS.values()} | {"sf0.001"}):
        for t in TABLES:
            assert (run.DATA_ROOT / sf / f"{t}.parquet").is_file(), (sf, t)


def _run(workload: str, traced: int) -> dict:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(traced), "--smoke",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_prints_every_metric(workload, traced):
    result = _run(workload, traced)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 4
    specs = SPEC["per_layer"] if traced else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in specs}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
