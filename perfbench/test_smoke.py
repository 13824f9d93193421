"""Smoke check of the benchmark itself, on tiny inputs (sf0.001 tables, one
200-row landing batch a pass):

    python3 -m pytest perfbench/test_smoke.py -q

Each workload, untraced and traced, must print one result line with exactly
the metrics and units that BENCHMARK.json declares, with every output check
passing. A directory without the program must be refused.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


# Per-layer metrics that each workload's ops must move off zero: the layers
# and operator modules the workload is there to measure.
NONZERO = {
    "catalog_sf0.1": ["plans.build_jobs", "ckpt.materializations", "shuffle.write_bytes"]
    + [
        f"operators.{m}.calls"
        for m in ("aggregate", "bloom", "embed", "joins", "multimodal", "neardup", "normalize")
        + ("similarity", "template", "textops")
    ],
    "landing_etl": ["plans.pipeline_s", "sources.read_csv_s", "sources.write_s", "python.run_s"]
    + [f"operators.{m}.calls" for m in ("categorize", "dedup", "enrich", "normalize")],
}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCHMARK["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_workload_prints_every_declared_metric(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, out.stderr[-4000:]
    assert result["attempted"] >= 1
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert [k for k in NONZERO[workload] if values[k] <= 0] == []
        # Python-worker time is spent inside executor task run time
        assert values["python.run_s"] <= values["executor.run_s"]
    else:
        assert all(v > 0 for v in values.values())


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCHMARK["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), BENCHMARK["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def test_same_seed_writes_the_same_inputs(tmp_path):
    import datagen

    a = datagen.catalog_tables(0.001, seed=5)
    b = datagen.catalog_tables(0.001, seed=5)
    assert all(a[t].equals(b[t]) for t in datagen.CATALOG_TABLES)
    for d in ("a", "b"):
        gen = datagen.LandingGenerator(seed=5, rows_per_batch=50)
        for i in range(2):
            gen.write_batch(str(tmp_path / d / f"b{i}"))
    for i in range(2):
        for site in datagen.SITES:
            rel = os.path.join(f"b{i}", f"{site}.csv")
            assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes()


def test_landing_batches_update_earlier_products(tmp_path):
    import datagen

    gen = datagen.LandingGenerator(seed=1, rows_per_batch=100)
    first = gen.write_batch(str(tmp_path / "b0"))
    second = gen.write_batch(str(tmp_path / "b1"))
    assert first["rows"] > 100  # exact duplicate rows ride along
    assert len(second["keys"] & first["keys"]) == 30
    assert len(gen.urls) == 170


def test_union_and_gaps():
    import tracing

    assert tracing._union_and_gaps([]) == (0.0, 0.0)
    covered, gap = tracing._union_and_gaps([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)])
    assert covered == pytest.approx(3.0)
    assert gap == pytest.approx(1.0)


def test_every_reported_operator_module_is_called_by_a_workload():
    import tracing

    called = {k.split(".")[1] for keys in NONZERO.values() for k in keys if k.startswith("operators.")}
    assert called == set(tracing.REPORTED_OPERATORS)
