"""The benchmark's own tests: record schema, smoke runs, correctness check.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
BENCH_DIR = HERE.parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(BENCH_DIR), str(ROOT)]

import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _run(*args: str, cwd: Path = ROOT, script: str | None = None) -> tuple[int, list[str], str]:
    cmd = [sys.executable, "-c", script] if script else [sys.executable, "perfbench/run.py"]
    p = subprocess.run([*cmd, *args], cwd=cwd, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def _result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def test_spec_matches_the_metrics_the_code_reports():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metrics.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
    for m in SPEC["end_to_end"] + SPEC["per_layer"] + SPEC["workloads"]:
        assert NAME.match(m["name"]), m["name"]


def test_field_is_reproduced_exactly_by_nlinear_interp():
    from kamodo_dask_spark.grid.interpolate import nlinear_interp

    shape = gen.GridShape(8, 6, 5, 3)
    axes = gen.slab_axes(shape, 0, 4)
    field = gen.Field(7)
    pts = gen.make_points(axes, 5000, 7, 0)
    cols = [pts[a] for a in axes]
    slab = field.value("rho", *np.meshgrid(*axes.values(), indexing="ij"))
    got = nlinear_interp(list(axes.values()), slab, np.column_stack(cols), 0.0)
    want = np.where(pts["oob"], 0.0, field.value("rho", *cols))
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)
    # the F2 mix: about 10% of the points lie out of bounds
    assert 0.07 < pts["oob"].mean() < 0.13


def test_inputs_derive_from_the_seed():
    axes = gen.slab_axes(gen.GridShape(8, 6, 5, 3), 0, 4)
    a, b, c = (gen.make_points(axes, 100, s, 0) for s in (1, 1, 2))
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["lon"], c["lon"])
    assert gen.Field(1).coef == gen.Field(1).coef != gen.Field(2).coef


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_reports_every_metric(workload, trace):
    code, out, err = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                          "--trace", str(trace), "--size", "smoke")
    assert code == 0, err[-3000:]
    res = _result(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 3
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    if trace:
        record = json.loads((ROOT / ".perfbench_work" / f"trace-{workload}-seed3.json").read_text())
        assert set(record["overhead"]) == set(metrics.END_TO_END) - {"setup_s"}
        names = {s["name"] for s in record["spans"]}
        assert {"op.ready", "op.point", "op.gridded", "grid.model.validate_dense"} <= names
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


PERTURB = """
import sys
sys.path.insert(0, "perfbench")
import gen, run
import pyarrow.parquet as pq, pyarrow.compute as pc

write = gen.write_grid_files

def perturbed(*args, **kwargs):
    paths = write(*args, **kwargs)
    for p in paths:  # shift rho on every node: no longer the seeded field
        t = pq.read_table(p)
        i = t.column_names.index("rho[kg/m^3]")
        pq.write_table(t.set_column(i, "rho[kg/m^3]", pc.add(t.column(i), 0.5)), p)
    return paths

gen.write_grid_files = perturbed
sys.exit(run.main(sys.argv[1:]))
"""


def test_correctness_check_fails_on_a_perturbed_slab():
    code, out, err = _run("--workload", "window_queries", "--seed", "3", "--seconds", "1",
                          "--size", "smoke", script=PERTURB)
    assert code == 0, err[-3000:]
    res = _result(out)
    assert res["correct"] is False and res["failed"] > 0
    assert "differ from analytic field" in err


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, out, _ = _run("--workload", "window_queries", "--seed", "1", "--seconds", "1",
                        "--trace", "0", cwd=tmp_path)
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in out)
