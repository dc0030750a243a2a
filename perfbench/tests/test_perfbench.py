"""The benchmark's own tests: every metric of BENCHMARK.json is emitted with
its unit, and a corrupted output table fails the correctness gate.

Run from the repository root (each test starts Spark; a few minutes in
all):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_emitted_with_its_unit(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from tg_reporting_etl_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def _ran(spark, tmp_path, name: str, ops: int):
    import inputs
    from probe import Tracer
    from workloads import WORKLOADS as CLASSES

    in_dir = str(tmp_path / "in")
    start = inputs.stage(in_dir, 5, "smoke")
    wl = CLASSES[name](spark, in_dir, str(tmp_path / "work"), start, Tracer(spark))
    for i in range(ops):
        wl.op(i)
    return wl


def test_cycle_gate_fails_on_a_corrupted_table(spark, tmp_path):
    wl = _ran(spark, tmp_path, "cycle_5min", 3)
    try:
        assert wl.gate() == []
        table = wl.family.table_path("5min")
        victim = next(os.path.join(r, d) for r, ds, _ in os.walk(table) for d in ds if d.startswith("mins="))
        shutil.rmtree(victim)
        errors = wl.gate()
    finally:
        wl.close()
    assert any("trans_summary_5min" in e for e in errors), errors


def test_curate_gate_fails_on_a_corrupted_shard(spark, tmp_path):
    wl = _ran(spark, tmp_path, "curate_corpus", 1)
    assert wl.gate() == []
    victim = next(os.path.join(r, f) for r, _, fs in os.walk(wl.out) for f in fs if f.endswith(".parquet"))
    shutil.copy(victim, victim.replace(".parquet", "-copy.parquet"))  # a shard written twice
    assert any("shards hold" in e for e in wl.gate())
