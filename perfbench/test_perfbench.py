"""Self-tests of the benchmark itself (not of the program):

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark, so the whole file takes a few minutes.
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

import inputs  # noqa: E402
import jobrun  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("job_dedup", "job_fanout")


def _files(workload, seed, tmp_path):
    _, tables = jobrun.make_input(workload, seed, 20)
    out = tmp_path / f"{workload}-{seed}-{len(list(tmp_path.iterdir()))}"
    inputs.write_stream(tables, str(out))
    return [(p.name, p.read_bytes()) for p in sorted(out.iterdir())]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_identical_inputs(workload, tmp_path):
    assert _files(workload, 7, tmp_path) == _files(workload, 7, tmp_path)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_other_seed_gives_other_inputs_of_same_shape(workload):
    a_inp, a = jobrun.make_input(workload, 7, 20)
    b_inp, b = jobrun.make_input(workload, 8, 20)
    assert [t.schema for t in a] == [t.schema for t in b]
    assert [t.num_rows for t in a] == [t.num_rows for t in b]
    assert [len(f.training_ids) for f in a_inp.files] == [
        len(f.training_ids) for f in b_inp.files]
    assert a != b


def test_dedup_input_resends_ten_percent_of_previous_file():
    inp, tables = jobrun.make_input("job_dedup", 3, 20)
    for prev, (f, t) in zip(tables, list(zip(inp.files, tables))[1:]):
        ids = [r["id"] for r in t.to_pylist() if r["kind"] == "data"]
        old = {r["id"] for r in prev.to_pylist() if r["kind"] == "data"}
        assert f.duplicates == sum(1 for i in ids if i in old)
        assert f.duplicates == jobrun.SHAPE["job_dedup"]["rows"] // 10


def test_printed_metric_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.END_TO_END == e2e
    assert run.PER_LAYER == layer
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_orr_reference_matches_closed_form_on_exact_data():
    import numpy as np

    rng = np.random.default_rng(0)
    X = np.round(rng.normal(size=(50, 3)), 3)
    y = X @ np.array([1.0, -2.0, 0.5]) + 0.25
    w = jobrun.orr_reference(list(zip(X, y)), lam=0.0, quant=10_000)
    assert np.allclose(w, [1.0, -2.0, 0.5, 0.25])


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct(workload):
    res = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", "0"], ROOT)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0
    assert out["metrics"]["pass_ratio"]["value"] == 1.0
    assert set(out["metrics"]) == set(run.END_TO_END)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(["--workload", "job_dedup", "--seed", "1", "--seconds", "1",
                "--trace", "0"], tmp_path)
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout
