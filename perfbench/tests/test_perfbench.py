"""The benchmark's own tests: tiny smoke runs of both workloads, the
reference semantics, and that the verifier catches a perturbed output.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import reference as ref  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_names_the_workloads_and_metrics_the_runner_has():
    import run
    import workloads

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_smoke_docs_pip_tile_end_to_end():
    import run
    from workloads import DocsPipTile

    res = _result(_run(ROOT, "--workload", "docs_pip_tile", "--seed", "3",
                       "--seconds", "1", "--trace", "0", "--size", "tiny"))
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1 + DocsPipTile.warmup_passes + run.MIN_MEASURED
    assert set(res["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_cellcover_knn_dem_traced():
    res = _result(_run(ROOT, "--workload", "cellcover_knn_dem", "--seed", "3",
                       "--seconds", "1", "--trace", "1", "--size", "tiny"))
    assert res["correct"] is True and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == {x["name"] for x in _spec()["per_layer"]}
    # spans this workload enters did work; the flagship's spans did none
    for span in ("pip_join.cellcover", "knn.join", "lineage.write",
                 "hydro.fill", "hydro.d8", "clump.label"):
        assert m[f"{span}_s"] > 0 and m[f"{span}.jobs"] > 0, span
    assert m["docs.extract.jobs"] == 0
    assert m["lineage.partitions"] == 2 and m["clump.clumps"] > 0


def test_without_the_package_the_benchmark_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "docs_pip_tile", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_reference_pip_is_even_odd_with_boundary_outside_and_holes():
    square = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)]
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)]
    poly = {"polygon_id": 7, "parts": [{"is_hole": False, "ring": square},
                                       {"is_hole": True, "ring": hole}]}
    px = np.array([1.0, 5.0, 0.0, 10.0, 2.0])
    py = np.array([1.0, 5.0, 5.0, 5.0, 0.0])
    hits = ref.polygon_hits(px, py, np.arange(5), [poly])
    assert hits == {(0, 7)}  # in the hole, on the left, right and bottom sides: out


def test_reference_knn_breaks_ties_on_target_id():
    tx = np.array([1.0, -1.0, 0.0, 3.0])
    ty = np.array([0.0, 0.0, 1.0, 0.0])
    rows = ref.knn_rows(np.array([100]), np.array([0.0]), np.array([0.0]),
                        np.array([5, 3, 4, 2]), tx, ty, k=2)
    assert rows == {(100, 3, 1.0, 1), (100, 4, 1.0, 2)}


def test_verifier_catches_a_perturbed_dem_output(tmp_path):
    from workloads import DemFixpoint

    wl = DemFixpoint(None, 5, str(tmp_path), "tiny")
    filled = ref.priority_flood(wl.z)
    out = {"filled": filled, "accum": ref.d8_accumulation(filled, 1.0, 1.0),
           "labels": ref.clump_labels(np.floor(filled / wl.CLASS_WIDTH)).astype(float)}
    assert wl.check(out) == []
    for key in out:
        bad = {k: v.copy() for k, v in out.items()}
        bad[key][3, 4] += 1.0
        problems = wl.check(bad)
        assert len(problems) == 1 and key in problems[0]
        assert wl.digest(bad) != wl.digest(out)


def test_verifier_catches_a_perturbed_tile_count(tmp_path):
    import run
    import tracing
    from workloads import DocsPipTile

    spark = run.start_session(str(tmp_path / "work"), 2)
    try:
        wl = DocsPipTile(spark, 9, str(tmp_path), "tiny")
        wl.materialize()
        out = wl.run_pass(tracing.NullTracer(), str(tmp_path / "pass"))
        assert wl.check(out) == []
        polygon, tile, count = out[0]
        bad = [(polygon, tile, count + 1)] + out[1:]
        assert wl.check(bad) and wl.digest(bad) != wl.digest(out)
    finally:
        run.stop_session(spark)
