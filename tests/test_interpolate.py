"""Interpolation engine: corner-join and broadcast strategies vs NumPy oracle.

Oracle semantics = the reference's ``RegularGridInterpolator(..., method=
'linear', bounds_error=False, fill_value=0)`` (kamodo_dask.py:335-338):
edges inclusive, strictly-outside → fill_value.
"""

from __future__ import annotations

from itertools import product

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from kamodo_dask_spark.grid.interpolate import (
    interpolate_points,
    gridded_eval,
    nlinear_interp,
)

AXES = ("time", "lon", "lat", "h")
TIME_V = np.array([0.0, 600.0, 1200.0, 1800.0])
LON_V = np.array([0.0, 90.0, 180.0, 270.0, 360.0])
LAT_V = np.array([-90.0, -30.0, 30.0, 90.0])
H_V = np.array([100.0, 200.0, 300.0])


def measure(t, lon, lat, h):
    # multilinear in each variable + cross terms → exactly representable by
    # a trilinear interpolant within a cell only for the linear part; still a
    # valid oracle because oracle and engine interpolate the SAME samples.
    return 1.0 + 0.001 * t + 0.5 * lon - 2.0 * lat + 0.01 * h + 1e-4 * lon * lat


@pytest.fixture(scope="module")
def grid_df(spark):
    rows = [
        (float(t), float(lo), float(la), float(hh), float(measure(t, lo, la, hh)))
        for t, lo, la, hh in product(TIME_V, LON_V, LAT_V, H_V)
    ]
    return spark.createDataFrame(rows, "time double, lon double, lat double, h double, v double")


@pytest.fixture(scope="module")
def values_nd():
    grid = np.empty((len(TIME_V), len(LON_V), len(LAT_V), len(H_V)))
    for i, t in enumerate(TIME_V):
        for j, lo in enumerate(LON_V):
            for k, la in enumerate(LAT_V):
                for l, hh in enumerate(H_V):
                    grid[i, j, k, l] = measure(t, lo, la, hh)
    return grid


def query_points():
    rng = np.random.default_rng(7)
    pts = []
    # interior
    for _ in range(40):
        pts.append(
            (
                rng.uniform(0, 1800),
                rng.uniform(0, 360),
                rng.uniform(-90, 90),
                rng.uniform(100, 300),
            )
        )
    # exactly on grid nodes
    pts += [(600.0, 90.0, 30.0, 200.0), (0.0, 0.0, -90.0, 100.0), (1800.0, 360.0, 90.0, 300.0)]
    # on faces/edges
    pts += [(600.0, 45.0, 30.0, 250.0), (0.0, 360.0, 0.0, 100.0)]
    # out of bounds → fill_value
    pts += [(-1.0, 10.0, 0.0, 150.0), (600.0, 10.0, 0.0, 301.0), (5000.0, 400.0, 100.0, 50.0)]
    return [(i, *map(float, p)) for i, p in enumerate(pts)]


def oracle(pts):
    arr = np.array([p[1:] for p in pts])
    vals_nd = np.empty((len(TIME_V), len(LON_V), len(LAT_V), len(H_V)))
    for i, t in enumerate(TIME_V):
        for j, lo in enumerate(LON_V):
            for k, la in enumerate(LAT_V):
                for l, hh in enumerate(H_V):
                    vals_nd[i, j, k, l] = measure(t, lo, la, hh)
    return nlinear_interp([TIME_V, LON_V, LAT_V, H_V], vals_nd, arr, fill_value=0.0)


def _points_df(spark):
    return spark.createDataFrame(
        query_points(), "point_id long, time double, lon double, lat double, h double"
    )


def test_corner_join_matches_oracle(spark, grid_df):
    pts = query_points()
    got = {
        r["point_id"]: r["v"]
        for r in interpolate_points(
            grid_df, _points_df(spark), AXES, ["v"], strategy="corner"
        ).collect()
    }
    exp = oracle(pts)
    assert len(got) == len(pts)
    for p, e in zip(pts, exp):
        assert got[p[0]] == pytest.approx(e, rel=1e-9, abs=1e-12), f"point {p}"


def test_fused_auto_matches_oracle_and_plans_no_exchange(spark, grid_df):
    """auto on a small dense slab takes the fused broadcast-map path: results
    match the oracle AND the plan has zero exchanges (no join, no group-by)."""
    from kamodo_dask_spark.plans.checks import executed_plan

    pts = query_points()
    out = interpolate_points(grid_df, _points_df(spark), AXES, ["v"])  # auto
    plan = executed_plan(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    got = {r["point_id"]: r["v"] for r in out.collect()}
    exp = oracle(pts)
    assert len(got) == len(pts)
    for p, e in zip(pts, exp):
        assert got[p[0]] == pytest.approx(e, rel=1e-9, abs=1e-12), f"point {p}"


def test_fused_auto_falls_back_to_corner_on_sparse_slab(spark, grid_df):
    """A non-dense slab (one grid row removed) must NOT take the fused path:
    auto falls back to the corner join whose coverage accounting yields
    fill_value for cells touching the hole — not an error, not NULL."""
    hole_t, hole_lo, hole_la, hole_h = 600.0, 90.0, 30.0, 200.0
    sparse = grid_df.filter(
        ~(
            (F.col("time") == hole_t)
            & (F.col("lon") == hole_lo)
            & (F.col("lat") == hole_la)
            & (F.col("h") == hole_h)
        )
    )
    import numpy as np

    arrays = {"time": TIME_V, "lon": LON_V, "lat": LAT_V, "h": H_V}
    pts_df = spark.createDataFrame(
        [
            (0, 650.0, 100.0, 25.0, 210.0),  # cell touches the hole → fill
            (1, 60.0, 200.0, 50.0, 250.0),   # cell far from the hole → exact
        ],
        "point_id long, time double, lon double, lat double, h double",
    )
    out = {
        r["point_id"]: r["v"]
        for r in interpolate_points(
            sparse, pts_df, AXES, ["v"], fill_value=-7.0, axis_arrays=arrays
        ).collect()
    }
    assert out[0] == -7.0
    exp = nlinear_interp(
        [TIME_V, LON_V, LAT_V, H_V],
        np.array(
            [
                [[[measure(t, lo, la, hh) for hh in H_V] for la in LAT_V] for lo in LON_V]
                for t in TIME_V
            ]
        ),
        np.array([[60.0, 200.0, 50.0, 250.0]]),
        fill_value=-7.0,
    )[0]
    assert out[1] == pytest.approx(exp, rel=1e-9)


def test_broadcast_matches_oracle(spark, grid_df):
    pts = query_points()
    got = {
        r["point_id"]: r["v"]
        for r in interpolate_points(
            grid_df, _points_df(spark), AXES, ["v"], strategy="broadcast"
        ).collect()
    }
    exp = oracle(pts)
    for p, e in zip(pts, exp):
        assert got[p[0]] == pytest.approx(e, rel=1e-9, abs=1e-12), f"point {p}"


def test_fill_value_for_out_of_bounds(spark, grid_df):
    pts_df = spark.createDataFrame(
        [(0, -5.0, 10.0, 0.0, 150.0)], "point_id long, time double, lon double, lat double, h double"
    )
    for fn in (
        interpolate_points,
        lambda *a, **kw: interpolate_points(*a, strategy="corner", **kw),
        lambda *a, **kw: interpolate_points(*a, strategy="broadcast", **kw),
    ):
        row = fn(grid_df, pts_df, AXES, ["v"], fill_value=-123.5).collect()[0]
        assert row["v"] == -123.5


@pytest.mark.parametrize(
    "fn",
    [
        interpolate_points,
        lambda *a, **kw: interpolate_points(*a, strategy="corner", **kw),
        pytest.param(
            lambda *a, **kw: interpolate_points(*a, strategy="broadcast", **kw),
            id="broadcast",
        ),
    ],
)
def test_nan_grid_values_filled_before_interp(spark, fn):
    """NaN measures → fill_value pre-interpolation (kamodo_dask.py:334),
    on BOTH strategies — a NaN node must not poison neighboring cells."""
    rows = [
        (float(t), float(x), 1.0 if (t, x) != (0.0, 0.0) else float("nan"))
        for t, x in product([0.0, 1.0], [0.0, 1.0])
    ]
    g = spark.createDataFrame(rows, "time double, lon double, v double")
    p = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.5, 0.5)], "point_id long, time double, lon double"
    )
    out = {r["point_id"]: r["v"] for r in fn(g, p, ("time", "lon"), ["v"], fill_value=0.0).collect()}
    assert out[0] == 0.0  # the NaN node itself reads as fill_value
    assert out[1] == pytest.approx(0.75)  # neighbors blend fill, not NaN


def test_gridded_eval_full_mesh(spark, grid_df):
    out = gridded_eval(grid_df, {"time": 600.0, "lat": [30.0]}, AXES, ["v"])
    rows = out.collect()
    # time and lat pinned → lon × h mesh
    assert len(rows) == len(LON_V) * len(H_V)
    for r in rows:
        assert r["v"] == pytest.approx(measure(600.0, r["lon"], 30.0, r["h"]), rel=1e-9)


def test_nlinear_edge_semantics():
    """Edge coordinates are in-bounds; strictly outside is filled."""
    ax = [np.array([0.0, 1.0, 2.0])]
    vals = np.array([10.0, 20.0, 30.0])
    pts = np.array([[0.0], [2.0], [2.0000001], [-0.0000001], [1.5]])
    out = nlinear_interp(ax, vals, pts, fill_value=-1.0)
    assert out[0] == 10.0 and out[1] == 30.0
    assert out[2] == -1.0 and out[3] == -1.0
    assert out[4] == pytest.approx(25.0)


def test_null_grid_cell_strategies_agree(spark):
    """A SQL NULL measure cell (parquet null) must blend fill_value at just
    that node in BOTH strategies — nanvl alone passes NULL through, zeroing
    the corner path's coverage and hard-filling the whole point."""
    from pyspark.sql import functions as F

    from kamodo_dask_spark.grid.interpolate import interpolate_points

    rows = []
    for x1 in (0.0, 1.0):
        for x2 in (0.0, 1.0):
            v = None if (x1, x2) == (1.0, 1.0) else x1 + 2 * x2
            rows.append((x1, x2, v))
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "point_id long, x1 double, x2 double")
    results = {}
    for strategy in ("auto", "corner"):
        out = interpolate_points(
            grid, pts, axes=("x1", "x2"), measures=["val"],
            fill_value=7.0, strategy=strategy,
        ).collect()[0]["val"]
        results[strategy] = out
    # NULL node contributes fill_value=7 with weight 0.25:
    # 0.25*(0 + 2 + 1 + 7) = 2.5
    assert results["auto"] == pytest.approx(2.5)
    assert results["corner"] == pytest.approx(results["auto"])


def test_corner_two_measures_share_one_coverage_sum(spark):
    """The corner join sums coverage once for every measure. Over a partial
    slab, a missing node fills BOTH measures in the cells it bounds, while a
    NULL value of one measure blends fill_value at that node for that
    measure only — the node still covers its cell."""
    rows = []
    for x1 in (0.0, 1.0, 2.0):
        for x2 in (0.0, 1.0):
            if (x1, x2) == (2.0, 1.0):
                continue  # missing node: bounds the cell x1 in [1, 2]
            b = None if (x1, x2) == (0.0, 1.0) else 10 * x1 - x2
            rows.append((x1, x2, x1 + 2 * x2, b))
    grid = spark.createDataFrame(rows, "x1 double, x2 double, a double, b double")
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 1.5, 0.5)], "point_id long, x1 double, x2 double"
    )
    arrays = {"x1": np.array([0.0, 1.0, 2.0]), "x2": np.array([0.0, 1.0])}
    got = {
        r["point_id"]: (r["a"], r["b"])
        for r in interpolate_points(
            grid, pts, ("x1", "x2"), ["a", "b"], fill_value=7.0,
            axis_arrays=arrays, strategy="corner",
        ).collect()
    }
    # cell x1 in [0, 1]: a = 0.25*(0 + 2 + 1 + 3); b's NULL node (0, 1)
    # contributes 7: b = 0.25*(0 + 7 + 10 + 9)
    assert got[0] == (pytest.approx(1.5), pytest.approx(6.5))
    assert got[1] == (7.0, 7.0)


def test_duplicate_slab_row_not_silently_reshaped(spark):
    """A duplicated grid row compensating a missing one passes the row-count
    check; the duplicate check must reject the dense collect (falling back
    to the coverage-accounting corner join) instead of misaligning the
    reshape."""
    from kamodo_dask_spark.grid.interpolate import _axis_arrays, _collect_dense_slab

    rows = [(x1, x2, x1 + 2 * x2) for x1 in (0.0, 1.0) for x2 in (0.0, 1.0)]
    rows.remove((1.0, 1.0, 3.0))
    rows.append((0.0, 0.0, 0.0))  # duplicate keeps the count at 4
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    arrays = _axis_arrays(grid, ("x1", "x2"))
    assert _collect_dense_slab(grid, ("x1", "x2"), ["val"], arrays, 0.0) is None


def test_fused_timestamp_axis_non_utc_session_tz(spark):
    """The fused kernel localizes Arrow's naive (session-tz) timestamps
    before converting to epoch — under a non-UTC session tz, evaluation at
    an exact grid node must return the node value, not a shifted time (the
    pre-fix behavior evaluated hours off and returned fill)."""
    import pandas as pd

    from kamodo_dask_spark.grid.interpolate import interpolate_points

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        times = pd.to_datetime(["2024-03-01 00:00:00", "2024-03-01 01:00:00"])
        rows = [
            (t.to_pydatetime(), x, float(i) + x)
            for i, t in enumerate(times)
            for x in (0.0, 1.0)
        ]
        grid = spark.createDataFrame(rows, "time timestamp, x double, val double")
        pts = spark.createDataFrame(
            [(0, times[1].to_pydatetime(), 1.0)], "point_id long, time timestamp, x double"
        )
        out = interpolate_points(
            grid, pts, axes=("time", "x"), measures=["val"], fill_value=-99.0
        ).collect()[0]["val"]
        assert out == pytest.approx(2.0)  # node value, not fill/-shifted
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_gridded_eval_accepts_datetime_coords(spark):
    """The natural time=<datetime> spelling for a timestamp axis converts
    to epoch seconds instead of raising TypeError."""
    import pandas as pd

    from kamodo_dask_spark.grid.interpolate import gridded_eval

    times = pd.to_datetime(["2024-03-01 00:00:00", "2024-03-01 01:00:00"])
    rows = [
        (t.to_pydatetime(), x, float(i) + x)
        for i, t in enumerate(times)
        for x in (0.0, 1.0)
    ]
    grid = spark.createDataFrame(rows, "time timestamp, x double, val double")
    out = gridded_eval(grid, {"time": times[0].to_pydatetime()}, axes=("time", "x"))
    got = {r["x"]: r["val"] for r in out.collect()}
    assert got == {0.0: pytest.approx(0.0), 1.0: pytest.approx(1.0)}


def test_block_strategy_matches_oracle(spark, grid_df):
    """strategy='block' (block-relation cogroup) agrees with the NumPy oracle on
    interior / node / face / out-of-bounds points."""
    pts = query_points()
    got = {
        r["point_id"]: r["v"]
        for r in interpolate_points(
            grid_df, _points_df(spark), AXES, ["v"], strategy="block"
        ).collect()
    }
    exp = oracle(pts)
    assert len(got) == len(pts)
    for p, e in zip(pts, exp):
        assert got[p[0]] == pytest.approx(e, rel=1e-9, abs=1e-12), f"point {p}"


def test_block_strategy_null_node_and_fill(spark):
    """Block path node semantics = corner path: a NULL/NaN node blends
    fill_value at just that node; OOB points get fill_value whole."""
    rows = []
    for x1 in (0.0, 1.0):
        for x2 in (0.0, 1.0):
            v = None if (x1, x2) == (1.0, 1.0) else x1 + 2 * x2
            rows.append((x1, x2, v))
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, -1.0, 0.5)], "point_id long, x1 double, x2 double"
    )
    got = {
        r["point_id"]: r["val"]
        for r in interpolate_points(
            grid, pts, axes=("x1", "x2"), measures=["val"],
            fill_value=7.0, strategy="block",
        ).collect()
    }
    assert got[0] == pytest.approx(2.5)  # 0.25*(0+2+1+7)
    assert got[1] == 7.0  # out of bounds


def test_block_relation_reuse_and_dense_requirement(spark, grid_df):
    """A prebuilt block relation answers repeated queries without
    rebuilding, and a non-dense slab refuses the block path loudly. Its key
    axis is lon, the axis with the most nodes, so it holds one row per lon
    interval."""
    from kamodo_dask_spark.grid.interpolate import (
        _axis_arrays,
        _block_relation,
        _interpolate_blocks,
    )

    arrays = _axis_arrays(grid_df, AXES)
    blocks = _block_relation(grid_df, AXES, ["v"], 0.0, arrays)
    assert blocks.count() == len(LON_V) - 1
    pts = query_points()
    exp = oracle(pts)
    for _ in range(2):  # two queries against the SAME relation
        got = {
            r["point_id"]: r["v"]
            for r in _interpolate_blocks(
                blocks, _points_df(spark), AXES, arrays, ["v"]
            ).collect()
        }
        for p, e in zip(pts, exp):
            assert got[p[0]] == pytest.approx(e, rel=1e-9, abs=1e-12)

    sparse = grid_df.filter(
        ~((F.col("time") == 0.0) & (F.col("lon") == 0.0)
          & (F.col("lat") == -90.0) & (F.col("h") == 100.0))
    )
    with pytest.raises(ValueError, match="dense"):
        _block_relation(sparse, AXES, ["v"], 0.0, arrays)


def test_block_strategy_preserves_duplicate_points(spark, grid_df):
    """Duplicate point rows survive the block path (one cogroup, no group-by)
    — fused-path semantics, unlike the corner join's merging group-by."""
    pts = spark.createDataFrame(
        [(600.0, 45.0, 30.0, 250.0)] * 3, "time double, lon double, lat double, h double"
    )
    out = interpolate_points(grid_df, pts, AXES, ["v"], strategy="block").collect()
    assert len(out) == 3
    assert len({r["v"] for r in out}) == 1


@pytest.mark.parametrize("seed,d", [(1, 2), (2, 3), (3, 4), (4, 6), (5, 1)])
def test_block_and_corner_agree_on_random_grids(spark, seed, d):
    """Randomized cross-strategy equivalence: non-uniform axis spacings,
    NaN/NULL-poked node values, interior + boundary + OOB points — the block
    and corner strategies must agree with the NumPy oracle (NaN/NULL nodes
    contribute fill_value at that node in all three)."""
    rng = np.random.default_rng(seed)
    fill = 3.5
    axes = tuple(f"x{i+1}" for i in range(d))
    arrays = {}
    for ax in axes:
        n = int(rng.integers(3, 6))
        vals = np.sort(rng.uniform(-10, 10, size=n))
        while np.any(np.diff(vals) < 1e-3):  # keep spacings non-degenerate
            vals = np.sort(rng.uniform(-10, 10, size=n))
        arrays[ax] = vals
    mesh = np.meshgrid(*[arrays[ax] for ax in axes], indexing="ij")
    vals_nd = rng.uniform(-5, 5, size=mesh[0].shape)
    # poke NaN and NULL nodes (~10% each)
    nan_mask = rng.random(vals_nd.shape) < 0.1
    null_mask = (rng.random(vals_nd.shape) < 0.1) & ~nan_mask
    rows = []
    it = np.nditer(vals_nd, flags=["multi_index"])
    for v in it:
        idx = it.multi_index
        coord = [float(arrays[axes[k]][idx[k]]) for k in range(d)]
        if null_mask[idx]:
            rows.append((*coord, None))
        elif nan_mask[idx]:
            rows.append((*coord, float("nan")))
        else:
            rows.append((*coord, float(v)))
    schema = ", ".join(f"{ax} double" for ax in axes) + ", val double"
    grid = spark.createDataFrame(rows, schema)

    pts = []
    for i in range(30):
        pts.append((i, *[float(rng.uniform(arrays[ax][0], arrays[ax][-1])) for ax in axes]))
    # boundary + OOB
    pts.append((30, *[float(arrays[ax][0]) for ax in axes]))
    pts.append((31, *[float(arrays[ax][-1]) for ax in axes]))
    pts.append((32, *[float(arrays[ax][-1] + 1.0) for ax in axes]))
    pts_df = spark.createDataFrame(
        pts, "point_id long, " + ", ".join(f"{ax} double" for ax in axes)
    )

    # oracle: NaN AND NULL nodes -> fill_value before interpolation
    vals_f = vals_nd.copy()
    vals_f[nan_mask | null_mask] = fill
    exp = nlinear_interp(
        [arrays[ax] for ax in axes], vals_f,
        np.array([p[1:] for p in pts]), fill_value=fill,
    )

    for strategy in ("corner", "block"):
        got = {
            r["point_id"]: r["val"]
            for r in interpolate_points(
                grid, pts_df, axes, ["val"], fill_value=fill,
                axis_arrays=arrays, strategy=strategy,
            ).collect()
        }
        assert len(got) == len(pts)
        for p, e in zip(pts, exp):
            assert got[p[0]] == pytest.approx(e, rel=1e-9, abs=1e-9), (
                strategy, p, got[p[0]], e,
            )


def test_block_relation_rejects_duplicate_masked_hole(spark):
    """A duplicated node compensating a missing one passes a bare row count
    (and the per-axis cardinality product) but must be REJECTED: the
    scatter would write the duplicate over one node and leave the missing
    one absent, with no error."""
    from kamodo_dask_spark.grid.interpolate import _block_relation

    rows = [(x1, x2, x1 + 2 * x2) for x1 in (0.0, 1.0) for x2 in (0.0, 1.0)]
    rows.remove((1.0, 1.0, 3.0))
    rows.append((0.0, 0.0, 0.0))  # duplicate keeps count at 4
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    arrays = {"x1": np.array([0.0, 1.0]), "x2": np.array([0.0, 1.0])}
    with pytest.raises(ValueError, match="distinct"):
        _block_relation(grid, ("x1", "x2"), ["val"], 0.0, arrays)


def test_grid_node_missing_from_axis_arrays_fills_its_cells(spark):
    """A grid node absent from ``axis_arrays`` (here the node x1=2 where the
    arrays say 2.5) corners no interpolated cell: points in the two x1
    cells it bounds get ``fill_value`` from the block strategy, as from the
    corner join (whose coverage sum misses that node), while cells away
    from it interpolate normally."""
    from kamodo_dask_spark.grid.interpolate import _block_relation

    rows = [(x1, x2, x1 + 2 * x2) for x1 in (0.0, 1.0, 2.0, 3.0) for x2 in (0.0, 1.0)]
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    arrays = {"x1": np.array([0.0, 1.0, 2.5, 3.0]), "x2": np.array([0.0, 1.0])}
    axes = ("x1", "x2")
    blocks = _block_relation(grid, axes, ["val"], 0.0, arrays)
    complete = [r["_g"] for r in blocks.collect() if np.frombuffer(r["_mask"], bool).all()]
    assert complete == [0]  # only the cell x1 in [0, 1]
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 1.5, 0.5), (2, 2.7, 0.5)],
        "point_id long, x1 double, x2 double",
    )
    for strategy in ("block", "corner"):
        got = {
            r["point_id"]: r["val"]
            for r in interpolate_points(
                grid, pts, axes, ["val"], fill_value=-7.0,
                axis_arrays=arrays, strategy=strategy,
            ).collect()
        }
        assert got == {0: pytest.approx(1.5), 1: -7.0, 2: -7.0}, strategy


def test_block_strategy_timestamp_key_axis_non_utc_session_tz(spark):
    """A timestamp key axis under a non-UTC session timezone: the block
    path casts the point axes to epoch seconds Spark-side, so a point
    between two nodes and a point on a node read the grid's values, and
    the point's own timestamp column comes back unchanged."""
    import pandas as pd

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        times = pd.date_range("2024-03-01 00:00:00", periods=4, freq="h")
        rows = [
            (t.to_pydatetime(), x, float(i) + x)
            for i, t in enumerate(times)
            for x in (0.0, 1.0)
        ]
        grid = spark.createDataFrame(rows, "time timestamp, x double, val double")
        asked = {
            0: ((times[1] + pd.Timedelta(minutes=30)).to_pydatetime(), 0.5),
            1: (times[2].to_pydatetime(), 1.0),
        }
        pts = spark.createDataFrame(
            [(k, t, x) for k, (t, x) in asked.items()],
            "point_id long, time timestamp, x double",
        )
        out = interpolate_points(
            grid, pts, axes=("time", "x"), measures=["val"], fill_value=-99.0,
            strategy="block",
        ).collect()
        got = {r["point_id"]: (r["time"], r["val"]) for r in out}
        assert got[0] == (asked[0][0], pytest.approx(2.0))
        assert got[1] == (asked[1][0], pytest.approx(3.0))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_block_strategy_null_and_out_of_range_coordinates(spark):
    """NULL and out-of-range coordinates, on the key axis (x2, the axis
    with the most nodes) and off it, get ``fill_value``; the key axis's
    own edges stay in bounds."""
    rows = [(x1, x2, x1 + 2 * x2) for x1 in (0.0, 1.0, 2.0) for x2 in (0.0, 1.0, 2.0, 3.0, 4.0)]
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    pts = spark.createDataFrame(
        [
            (0, 0.5, None), (1, 0.5, -1.0), (2, 0.5, 4.5),  # key axis: NULL, below, above
            (3, None, 2.5), (4, 2.5, 2.5),  # other axis: NULL, above
            (5, 0.5, 0.0), (6, 2.0, 4.0), (7, 1.5, 2.25),  # key-axis edges, interior
        ],
        "point_id long, x1 double, x2 double",
    )
    got = {
        r["point_id"]: r["val"]
        for r in interpolate_points(
            grid, pts, ("x1", "x2"), ["val"], fill_value=-3.0, strategy="block"
        ).collect()
    }
    assert got == {
        0: -3.0, 1: -3.0, 2: -3.0, 3: -3.0, 4: -3.0,
        5: pytest.approx(0.5), 6: pytest.approx(10.0), 7: pytest.approx(6.0),
    }


def test_block_strategy_interval_without_block_fills(spark):
    """An interval none of whose nodes match ``axis_arrays`` (here x1 in
    [2.5, 3.5], where the grid holds 2 and 3) has no block row: its
    points get ``fill_value``, as from the corner join."""
    from kamodo_dask_spark.grid.interpolate import _block_relation

    rows = [(x1, x2, x1 + 2 * x2) for x1 in (0.0, 1.0, 2.0, 3.0) for x2 in (0.0, 1.0)]
    grid = spark.createDataFrame(rows, "x1 double, x2 double, val double")
    arrays = {"x1": np.array([0.0, 1.0, 2.5, 3.5]), "x2": np.array([0.0, 1.0])}
    axes = ("x1", "x2")
    blocks = _block_relation(grid, axes, ["val"], 0.0, arrays)
    assert sorted(r["_g"] for r in blocks.collect()) == [0, 1]
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 3.0, 0.5)], "point_id long, x1 double, x2 double"
    )
    for strategy in ("block", "corner"):
        got = {
            r["point_id"]: r["val"]
            for r in interpolate_points(
                grid, pts, axes, ["val"], fill_value=-7.0,
                axis_arrays=arrays, strategy=strategy,
            ).collect()
        }
        assert got == {0: pytest.approx(1.5), 1: -7.0}, strategy


def test_gridded_eval_empty_axis_list_raises(spark, grid_df):
    from kamodo_dask_spark.grid.interpolate import gridded_eval

    with pytest.raises(ValueError, match="empty coordinate list"):
        gridded_eval(grid_df, {"lon": []}, AXES, ["v"])
