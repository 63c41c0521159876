"""KamodoSpark registry: per-measure interpolators, units, late-binding guard."""

from __future__ import annotations

from datetime import timedelta

import pytest

from kamodo_dask_spark.grid.ingest import load_grid_range
from kamodo_dask_spark.grid.interpolate import interpolate_points
from kamodo_dask_spark.grid.registry import KamodoSpark
from kamodo_dask_spark.plans.checks import executed_plan

from tests.conftest import GRID_START, rho_fn, temp_fn


@pytest.fixture(scope="module")
def registry(spark, grid_dir):
    start = GRID_START + timedelta(minutes=5)
    end = GRID_START + timedelta(minutes=95)
    with pytest.warns(UserWarning):
        df = load_grid_range(spark, f"{grid_dir}/", start, end, h_range=(292500.0, 357500.0))
    return KamodoSpark(df)


def test_registry_entries_and_units(registry):
    assert set(registry.measures) == {"rho", "T"}
    assert registry.units["rho"] == "kg/m^3"
    assert registry.units["T"] == "K"
    for key in ("rho", "rho_ijkl", "T", "T_ijkl"):
        assert key in registry


def test_each_measure_interpolates_its_own_data(spark, registry):
    """Guard against the reference's late-binding closure bug
    (kamodo_dask.py:328-351): every registered interpolator there evaluates
    the LAST measure's grid. Here rho and T must differ at a shared point."""
    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    pts = spark.createDataFrame(
        [(0, t_mid, 90.0, 0.0, 325000.0)],
        "point_id long, time double, lon double, lat double, h double",
    )
    rho_val = registry["rho"](pts).collect()[0]["rho"]
    t_val = registry["T"](pts).collect()[0]["T"]
    assert rho_val != t_val
    # rho is ~1e-9-scale, T is ~800-scale — each hit its own field
    assert rho_val < 1e-6
    assert t_val > 100.0
    assert t_val == pytest.approx(temp_fn(t_mid, 90.0, 0.0, 325000.0), rel=1e-6)


def test_gridded_eval_from_registry(registry):
    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    out = registry["T_ijkl"](time=t_mid, lat=0.0).collect()
    # time/lat pinned → lon(17) × h(3) mesh
    assert len(out) == 17 * 3
    for r in out:
        assert r["T"] == pytest.approx(temp_fn(t_mid, r["lon"], 0.0, r["h"]), rel=1e-6)


def test_bounds_and_midpoint(registry):
    b = registry.get_bounds()
    assert b["h"] == (292500.0, 357500.0)
    assert b["lat"] == (-90.0, 90.0)
    m = registry.get_midpoint()
    assert m["lat"] == pytest.approx(0.0)
    assert m["h"] == pytest.approx(325000.0)


def test_composed_function_point_and_gridded(spark, registry):
    """Function composition over registry entries (reference: the Kamodo
    base class's sympy composition, kamodo_dask.py:301): a derived function
    is a SQL expression over registered measures, evaluated as
    interpolate-then-compose in one multi-measure pass."""
    registry["combo[K]"] = "T + rho * 1e9"
    assert "combo" in registry and "combo_ijkl" in registry
    assert registry.units["combo"] == "K"
    assert registry["combo"].expr == "T + rho * 1e9"

    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    pts = spark.createDataFrame(
        [(0, t_mid, 90.0, 0.0, 325000.0)],
        "point_id long, time double, lon double, lat double, h double",
    )
    got = registry["combo"](pts).collect()[0]
    expected = temp_fn(t_mid, 90.0, 0.0, 325000.0) + rho_fn(t_mid, 90.0, 0.0, 325000.0) * 1e9
    assert got["combo"] == pytest.approx(expected, rel=1e-5)
    assert set(registry["combo"](pts).columns) == {"point_id", "time", "lon", "lat", "h", "combo"}

    out = registry["combo_ijkl"](time=t_mid, lat=0.0).collect()
    assert len(out) == 17 * 3
    for r in out:
        exp = temp_fn(t_mid, r["lon"], 0.0, r["h"]) + rho_fn(t_mid, r["lon"], 0.0, r["h"]) * 1e9
        assert r["combo"] == pytest.approx(exp, rel=1e-4)


def test_composed_function_rejects_unknown_deps(registry):
    with pytest.raises(ValueError, match="references no registered measure"):
        registry.register("bogus", "x_unknown * 2")


def test_plot_data_heatmap_and_line_payloads(registry):
    """I7: plot_data produces the plotly-consumable payload — free-axis
    coordinate arrays plus a value tensor in axis order — and its values
    equal direct gridded evaluation at the same mesh points."""
    import numpy as np

    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()

    # two free axes (lon, lat) -> heatmap-shaped matrix
    pd2 = registry.plot_data("rho_ijkl", {"time": t_mid, "h": 325000.0})
    assert pd2["name"] == "rho_ijkl" and pd2["units"] == "kg/m^3"
    assert list(pd2["axes"]) == ["lon", "lat"]
    assert pd2["values"].shape == tuple(len(pd2["axes"][a]) for a in ("lon", "lat"))
    assert pd2["fixed"] == {"time": t_mid, "h": 325000.0}
    # cross-check a cell against the gridded function directly
    lon0, lat0 = float(pd2["axes"]["lon"][1]), float(pd2["axes"]["lat"][2])
    direct = (
        registry["rho_ijkl"](time=t_mid, h=325000.0, lon=lon0, lat=lat0)
        .collect()[0]["rho"]
    )
    assert pd2["values"][1, 2] == pytest.approx(direct, rel=1e-12)

    # reference's nested plot_partial spelling; one free axis -> line payload
    pd1 = registry.plot_data(
        "rho_ijkl",
        {"rho_ijkl": {"time": t_mid, "h": 325000.0, "lat": 0.0}},
    )
    assert list(pd1["axes"]) == ["lon"]
    assert pd1["values"].shape == (len(pd1["axes"]["lon"]),)
    assert np.isfinite(pd1["values"]).all()

    with pytest.raises(ValueError, match="fixes every axis"):
        registry.plot_data(
            "rho_ijkl", {"time": t_mid, "h": 325000.0, "lat": 0.0, "lon": 0.0}
        )
    with pytest.raises(KeyError):
        registry.plot_data("nope_ijkl")
    with pytest.raises(ValueError, match="not in grid"):
        registry.plot_data("rho_ijkl", {"altitude": 1.0})


def test_registry_cell_strategy_matches_broadcast(spark, grid_dir, tmp_path):
    """KamodoSpark(strategy='cell') — the repeated-query registry plan —
    answers point queries identically to the broadcast-kernel registry
    (including on a TIMESTAMP time axis, whose epoch-second doubles must
    agree bit-exactly between the driver-snapped lows and the Spark-cast
    cell keys), and release() drops the persisted cell relation. Points
    come in-memory and as a Parquet-read frame with a shifted time column."""
    start = GRID_START + timedelta(minutes=5)
    end = GRID_START + timedelta(minutes=95)
    with pytest.warns(UserWarning):
        grid_df = load_grid_range(
            spark, f"{grid_dir}/", start, end, h_range=(292500.0, 357500.0)
        )
    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    pts = spark.createDataFrame(
        [(0, t_mid, 90.0, 0.0, 325000.0), (1, t_mid + 213.0, 181.5, 12.5, 300001.0),
         (2, t_mid, 90.0, 0.0, 1.0)],  # oob h -> fill
        "point_id long, time double, lon double, lat double, h double",
    )
    pts.withColumn("time", pts.time - 600.0).write.parquet(f"{tmp_path}/pts")
    read = spark.read.parquet(f"{tmp_path}/pts")
    file_pts = read.withColumn("time", read.time + 600.0)
    ref = KamodoSpark(grid_df)  # auto -> broadcast at this size
    cell = KamodoSpark(grid_df, strategy="cell")
    try:
        exp = {r["point_id"]: r["rho"] for r in ref["rho"](pts).collect()}
        # repeated queries reuse the persisted relation
        for frame in (pts, pts, file_pts, file_pts):
            got = {r["point_id"]: r["rho"] for r in cell["rho"](frame).collect()}
            assert set(got) == set(exp)
            for k in exp:
                assert got[k] == pytest.approx(exp[k], rel=1e-9, abs=1e-12)
        # the gridded and derived functions answer through the same
        # persisted relation, with the broadcast registry's values
        ref["r2"] = cell["r2"] = "rho * 2"
        queries = [
            (lambda reg: reg["rho_ijkl"](time=t_mid, lat=0.0), ("lon", "h"), "rho"),
            (lambda reg: reg["r2"](pts), ("point_id",), "r2"),
            (lambda reg: reg["r2_ijkl"](time=t_mid, lat=0.0), ("lon", "h"), "r2"),
        ]
        for query, key, col in queries:
            out = query(cell)
            assert "InMemoryTableScan" in executed_plan(out)
            got = {tuple(r[k] for k in key): r[col] for r in out.collect()}
            want = {tuple(r[k] for k in key): r[col] for r in query(ref).collect()}
            assert set(got) == set(want)
            for k in want:
                assert got[k] == pytest.approx(want[k], rel=1e-9, abs=1e-12)
    finally:
        cell.release()
    assert cell._cells is None


def test_cell_registry_use_after_release_raises_clearly(spark):
    """Querying a released cell-strategy registry raises a RuntimeError
    naming the cause, not an opaque NoneType failure."""
    rows = [
        (float(t), float(x), t + 2.0 * x)
        for t in (0.0, 1.0, 2.0)
        for x in (0.0, 1.0, 2.0)
    ]
    df = spark.createDataFrame(rows, "time double, lon double, rho double")
    reg = KamodoSpark(df, axes=("time", "lon"), strategy="cell")
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "point_id long, time double, lon double")
    assert reg["rho"](pts).count() == 1
    reg.release()
    with pytest.raises(RuntimeError, match="release"):
        reg["rho"](pts)


def test_cell_registry_on_axis_past_literal_bound_matches_nlinear_interp(spark):
    """A cell registry over an axis longer than the literal-array snap bound
    (its points snap through the searchsorted UDF) interpolates exactly as
    ``nlinear_interp`` at interior, edge and out-of-bounds points, and its
    persisted relation holds the int cell keys and the corner arrays only."""
    import numpy as np

    from kamodo_dask_spark.grid.interpolate import _LITERAL_AXIS_MAX, nlinear_interp

    axes_v = {
        "time": np.arange(_LITERAL_AXIS_MAX + 52, dtype=np.float64) * 0.5,
        "lon": np.array([-10.0, 0.0, 25.0]),
    }
    axes = tuple(axes_v)
    mesh = np.meshgrid(*axes_v.values(), indexing="ij")
    values = np.sin(mesh[0] / 7.0) * 3.0 + mesh[1] ** 2 / 10.0
    rows = list(zip(*(m.ravel().tolist() for m in mesh), values.ravel().tolist()))
    grid = spark.createDataFrame(rows, "time double, lon double, rho double")
    t, lon = axes_v["time"], axes_v["lon"]
    pts_np = np.array(
        [
            [1.3, -5.0], [517.25, 12.5], [1049.75, 24.0], [600.0, 0.0],  # interior
            [t[0], lon[0]], [t[-1], lon[-1]], [t[-1], 3.0], [t[1024], lon[-1]],  # edges
            [t[0] - 0.1, 0.0], [10.0, lon[-1] + 1.0], [t[-1] + 0.5, 0.0],  # oob
        ]
    )
    pts = spark.createDataFrame(
        [(i, *map(float, p)) for i, p in enumerate(pts_np)],
        "point_id long, time double, lon double",
    )
    want = nlinear_interp(list(axes_v.values()), values, pts_np, -1.0)

    reg = KamodoSpark(grid, axes=axes, fill_value=-1.0, strategy="cell")
    try:
        assert reg._cells.columns == ["_ki_time", "_ki_lon", "_cells_rho"]
        got = dict(reg["rho"](pts).select("point_id", "rho").collect())
        np.testing.assert_allclose(
            [got[i] for i in range(len(pts_np))], want, rtol=1e-12, atol=1e-12
        )
    finally:
        reg.release()


def test_broadcast_registry_use_after_release_raises_clearly(spark):
    """Querying a released broadcast-strategy registry raises the same
    RuntimeError as the cell strategy, while a frame returned before the
    release still runs (the broadcast is unpersisted, not destroyed)."""
    reg = KamodoSpark(_affine_grid(spark), axes=("time", "lon"), strategy="broadcast")
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "point_id long, time double, lon double")
    before = reg["rho"](pts)
    reg.release()
    assert reg._slab is None
    assert before.collect()[0]["rho"] == pytest.approx(1.5)
    with pytest.raises(RuntimeError, match="release"):
        reg["rho"](pts)
    with pytest.raises(RuntimeError, match="release"):
        reg["rho_ijkl"](time=[0.5])


def test_broadcast_registry_levels_match_grid_axes(spark):
    """A broadcast registry rebuilds ``levels`` from its collected axis
    arrays; they equal ``grid_axes`` in value and type for double, long and
    timestamp axes, also under a non-UTC session time zone."""
    from datetime import datetime

    from kamodo_dask_spark.grid.model import grid_axes

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    reg = None
    try:
        times = [
            datetime(2024, 3, 10, 1, 30, 0, 250000),
            datetime(2024, 3, 10, 3, 45, 10, 999999),
        ]
        rows = [
            (t, lon, lat, float(i) + lon + 0.5 * lat)
            for i, t in enumerate(times)
            for lon in (-3, 7, 2**40)
            for lat in (-0.5, 0.25)
        ]
        df = spark.createDataFrame(
            rows, "time timestamp, lon long, lat double, rho double"
        ).repartition(3)
        axes = ("time", "lon", "lat")
        reg = KamodoSpark(df, axes=axes, strategy="broadcast")
        want = grid_axes(df, axes)
        assert reg.levels == want
        assert {ax: [type(v) for v in vs] for ax, vs in reg.levels.items()} == {
            ax: [type(v) for v in vs] for ax, vs in want.items()
        }
    finally:
        if reg is not None:
            reg.release()
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_broadcast_registry_queries_start_no_job(spark):
    """Point, gridded and derived functions of a built broadcast registry
    start no Spark job while they build their frame: the slab was collected
    and broadcast once, at build."""
    import uuid

    reg = KamodoSpark(_affine_grid(spark), axes=("time", "lon"), strategy="broadcast")
    reg["d"] = "rho * 2"
    pts = spark.createDataFrame(
        [(0, 0.5, 0.25), (1, 1.5, 2.0)], "point_id long, time double, lon double"
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"broadcast-no-job-{uuid.uuid4().hex}"
    prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        frames = [reg["rho"](pts), reg["rho_ijkl"](time=[0.5, 1.5]), reg["d"](pts)]
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert list(tracker.getJobIdsForGroup(group)) == []
        # the group does see jobs: running a frame starts one
        assert frames[2].count() == 2
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert list(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior)
        reg.release()


@pytest.mark.parametrize("strategy", ["broadcast", "corner", "cell"])
def test_registry_build_runs_one_grid_metadata_call(spark, monkeypatch, strategy):
    """Every registry build, whatever its strategy, learns the grid's levels
    from exactly one validate_dense call and never calls grid_axes."""
    import kamodo_dask_spark.grid.interpolate as interpolate_mod
    import kamodo_dask_spark.grid.registry as registry_mod

    calls = []
    real = registry_mod.validate_dense

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    def no_grid_axes(*args, **kwargs):
        raise AssertionError("grid_axes called during a registry build")

    monkeypatch.setattr(registry_mod, "validate_dense", counting)
    monkeypatch.setattr(registry_mod, "grid_axes", no_grid_axes)
    monkeypatch.setattr(interpolate_mod, "grid_axes", no_grid_axes)
    reg = KamodoSpark(_affine_grid(spark), axes=("time", "lon"), strategy=strategy)
    try:
        assert len(calls) == 1
        assert reg.levels == {"time": [0.0, 1.0, 2.0], "lon": [0.0, 1.0, 2.0]}
        assert reg.shape == (3, 3)
        pts = spark.createDataFrame(
            [(0, 0.5, 0.25)], "point_id long, time double, lon double"
        )
        assert reg["rho"](pts).collect()[0]["rho"] == pytest.approx(1.0)
        assert len(calls) == 1
    finally:
        reg.release()


@pytest.mark.parametrize("strategy", ["broadcast", "corner", "cell"])
def test_bounds_and_midpoint_start_no_job(spark, strategy):
    """get_bounds and get_midpoint read the levels collected at build: they
    start no Spark job, and equal grid_bounds (exactly) and grid_midpoint
    on double, long and timestamp axes."""
    import uuid
    from datetime import datetime

    from kamodo_dask_spark.grid.model import grid_bounds, grid_midpoint

    times = [datetime(2024, 3, 10, 1, 30, 0, 250000), datetime(2024, 3, 10, 3, 45)]
    rows = [
        (t, lon, lat, float(i) + lon + 0.5 * lat)
        for i, t in enumerate(times)
        for lon in (-3, 7, 40)
        for lat in (-0.5, 0.25, 2.0)
    ]
    df = spark.createDataFrame(rows, "time timestamp, lon long, lat double, rho double")
    axes = ("time", "lon", "lat")
    reg = KamodoSpark(df, axes=axes, strategy=strategy)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"bounds-no-job-{uuid.uuid4().hex}"
    prior = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        bounds, mid = reg.get_bounds(), reg.get_midpoint()
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        assert list(tracker.getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prior)
        reg.release()
    assert bounds == grid_bounds(df, axes)
    want = grid_midpoint(df, axes)
    assert set(mid) == set(want)
    for ax in axes:
        assert mid[ax] == pytest.approx(want[ax], rel=1e-12)


def test_broadcast_registry_on_shuffled_rows_matches_nlinear_interp(spark):
    """The unordered slab collect places every row by its coordinates: a
    grid whose rows are shuffled across several partitions, with uneven
    axis spacing and random node values, interpolates exactly as
    ``nlinear_interp`` over the same nodes — registry and standalone."""
    import numpy as np

    from kamodo_dask_spark.grid.interpolate import nlinear_interp

    rng = np.random.default_rng(7)
    axes_v = {
        "time": np.array([0.0, 1.0, 2.5, 4.0]),
        "lon": np.array([-10.0, 0.0, 5.0, 30.0, 31.0]),
        "lat": np.array([1.0, 2.0, 4.0]),
    }
    axes = tuple(axes_v)
    values = rng.normal(size=tuple(len(v) for v in axes_v.values()))
    mesh = np.meshgrid(*axes_v.values(), indexing="ij")
    rows = list(zip(*(m.ravel().tolist() for m in mesh), values.ravel().tolist()))
    order = rng.permutation(len(rows))
    grid = spark.createDataFrame(
        [rows[i] for i in order], "time double, lon double, lat double, rho double"
    ).repartition(4)
    assert grid.rdd.getNumPartitions() >= 3

    n = 200
    pts_np = np.column_stack(
        [rng.uniform(v[0] - 0.5, v[-1] + 0.5, n) for v in axes_v.values()]
    )
    pts_np[:10] = np.column_stack([m.ravel()[:10] for m in mesh])  # exact nodes
    pts = spark.createDataFrame(
        [(i, *map(float, p)) for i, p in enumerate(pts_np)],
        "point_id long, time double, lon double, lat double",
    )
    want = nlinear_interp(list(axes_v.values()), values, pts_np, -1.0)

    reg = KamodoSpark(grid, axes=axes, fill_value=-1.0, strategy="broadcast")
    try:
        for out in (
            reg["rho"](pts),
            interpolate_points(grid, pts, axes, ["rho"], -1.0, strategy="broadcast"),
        ):
            got = dict(out.select("point_id", "rho").collect())
            np.testing.assert_allclose(
                [got[i] for i in range(n)], want, rtol=0, atol=1e-12
            )
        t_q = [0.5, 2.5]
        gmesh = np.meshgrid(t_q, axes_v["lon"], axes_v["lat"], indexing="ij")
        gpts = np.column_stack([m.ravel() for m in gmesh])
        gwant = dict(
            zip(map(tuple, gpts), nlinear_interp(list(axes_v.values()), values, gpts, -1.0))
        )
        rows_out = reg["rho_ijkl"](time=t_q).collect()
        assert len(rows_out) == len(gwant)
        for r in rows_out:
            assert abs(r["rho"] - gwant[(r["time"], r["lon"], r["lat"])]) <= 1e-12
    finally:
        reg.release()


def _affine_grid(spark):
    """3×3 (time, lon) grid of rho = time + 2·lon: bilinear interpolation
    reproduces it exactly at any in-bounds point."""
    rows = [
        (float(t), float(x), t + 2.0 * x)
        for t in (0.0, 1.0, 2.0)
        for x in (0.0, 1.0, 2.0)
    ]
    return spark.createDataFrame(rows, "time double, lon double, rho double")


def test_unknown_strategy_rejected(spark):
    """A misspelled strategy raises and names the four allowed values, on
    the registry and on interpolate_points alike."""
    grid = _affine_grid(spark)
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "point_id long, time double, lon double")
    allowed = r"auto\|broadcast\|corner\|cell"
    with pytest.raises(ValueError, match=allowed):
        KamodoSpark(grid, axes=("time", "lon"), strategy="cel")
    with pytest.raises(ValueError, match=allowed):
        interpolate_points(grid, pts, ("time", "lon"), ["rho"], strategy="cel")


def _is_broadcast(plan):
    return "MapInPandas" in plan and "Join" not in plan and "Exchange" not in plan


def _is_corner(plan):
    return "Generate explode" in plan and "Join" in plan and "InMemoryTableScan" not in plan


def _is_cell(plan):
    return "InMemoryTableScan" in plan and "Join" in plan and "Generate" not in plan


@pytest.mark.parametrize(
    "strategy, runs",
    [("broadcast", _is_broadcast), ("corner", _is_corner), ("cell", _is_cell)],
    ids=["broadcast", "corner", "cell"],
)
def test_every_registered_function_runs_the_registry_strategy(spark, strategy, runs):
    """The strategy a registry reports is the one every function it
    registered runs: the measure, its gridded form, a derived function and
    the derived gridded form — even on a slab small enough that ``auto``
    would broadcast."""
    reg = KamodoSpark(_affine_grid(spark), axes=("time", "lon"), strategy=strategy)
    try:
        assert reg.strategy == strategy
        reg["d"] = "rho * 2"
        pts = spark.createDataFrame(
            [(0, 0.5, 0.25), (1, 1.5, 2.0)], "point_id long, time double, lon double"
        )
        for name, scale in (("rho", 1.0), ("d", 2.0)):
            for out in (reg[name](pts), reg[f"{name}_ijkl"](time=[0.5, 1.5])):
                plan = executed_plan(out)
                assert runs(plan), plan
                for r in out.collect():
                    assert r[name] == pytest.approx(scale * (r["time"] + 2.0 * r["lon"]))
    finally:
        reg.release()
