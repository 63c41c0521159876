from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kamodo_dask_spark.grid.model import (
    grid_axes,
    grid_bounds,
    grid_midpoint,
    normalize_measure_columns,
    parse_units,
    range_filter,
    snap_range,
    units_of,
    validate_dense,
    assert_time_bounds,
)


def test_timestamp_floor_ceil_boundaries(spark):
    """C6 parity (Timestamp.floor/ceil('10T'), kamodo_dask.py:191-192):
    on-boundary values are fixed points; off-boundary round outward."""
    from datetime import datetime, timedelta

    from kamodo_dask_spark.functions.time import (
        ceil_datetime,
        ceil_timestamp,
        floor_datetime,
        floor_timestamp,
    )

    freq = timedelta(minutes=10)
    on = datetime(2024, 3, 1, 0, 20, 0)
    off = datetime(2024, 3, 1, 0, 23, 45)
    assert floor_datetime(on, freq) == on and ceil_datetime(on, freq) == on
    assert floor_datetime(off, freq) == datetime(2024, 3, 1, 0, 20)
    assert ceil_datetime(off, freq) == datetime(2024, 3, 1, 0, 30)

    df = spark.createDataFrame([(on,), (off,)], "ts timestamp")
    rows = df.select(
        floor_timestamp("ts").alias("f"), ceil_timestamp("ts").alias("c")
    ).collect()
    assert rows[0]["f"] == on and rows[0]["c"] == on
    assert rows[1]["f"] == datetime(2024, 3, 1, 0, 20)
    assert rows[1]["c"] == datetime(2024, 3, 1, 0, 30)

    # sub-second just past a boundary: unix_timestamp TRUNCATES to whole
    # seconds, which used to FLOOR this value instead of ceiling it
    frac = datetime(2024, 3, 1, 0, 20, 0, 500_000)
    rows = (
        spark.createDataFrame([(frac,)], "ts timestamp")
        .select(floor_timestamp("ts").alias("f"), ceil_timestamp("ts").alias("c"))
        .collect()
    )
    assert rows[0]["f"] == datetime(2024, 3, 1, 0, 20)
    assert rows[0]["c"] == datetime(2024, 3, 1, 0, 30)


def test_coerce_numeric_null_on_error(spark):
    """F3 parity: malformed values coerce to NULL (the reference's
    pd.to_numeric(errors='coerce')); a plain cast would THROW under Spark 4's
    default ANSI mode."""
    from kamodo_dask_spark.grid.model import coerce_numeric

    df = spark.createDataFrame([("12.5",), ("oops",), (None,)], "h string")
    vals = [r[0] for r in df.select(coerce_numeric("h")).collect()]
    assert vals == [12.5, None, None]


def test_parse_units_roundtrip():
    """name[units] micro-schema (kamodo_dask.py:329-332)."""
    assert parse_units("rho[kg/m^3]") == ("rho", "kg/m^3")
    assert parse_units("T[K]") == ("T", "K")
    assert parse_units("plain") == ("plain", "")
    assert parse_units("empty[]") == ("empty", "")


def test_normalize_measure_columns(spark):
    df = spark.createDataFrame([(1.0, 2.0)], ["lon", "rho[kg/m^3]"])
    out = normalize_measure_columns(df)
    assert out.columns == ["lon", "rho"]
    assert units_of(out, "rho") == "kg/m^3"


@pytest.fixture(scope="module")
def small_grid(spark):
    rows = [
        (float(t), float(x), float(t * 10 + x))
        for t in (0, 1, 2)
        for x in (10.0, 20.0, 30.0, 40.0)
    ]
    return spark.createDataFrame(rows, "t double, x double, v double")


def test_grid_axes_and_bounds(small_grid):
    axes = grid_axes(small_grid, ("t", "x"))
    assert axes["t"] == [0.0, 1.0, 2.0]
    assert axes["x"] == [10.0, 20.0, 30.0, 40.0]
    b = grid_bounds(small_grid, ("t", "x"))
    assert b == {"t": (0.0, 2.0), "x": (10.0, 40.0)}


def test_grid_midpoint_is_mean_of_distinct(small_grid):
    """A2: mean over DISTINCT axis values, not over rows (kamodo_dask.py:356-357)."""
    m = grid_midpoint(small_grid, ("t", "x"))
    assert m["t"] == pytest.approx(1.0)
    assert m["x"] == pytest.approx(25.0)


def test_snap_range_widens_outward(small_grid):
    """F5 (kamodo_dask.py:194-206): [12, 33] → [10, 40]."""
    assert snap_range(small_grid, "x", 12.0, 33.0) == (10.0, 40.0)
    assert snap_range(small_grid, "x", 20.0, 30.0) == (20.0, 30.0)  # exact nodes stay


def test_snap_range_unbracketable_raises(small_grid):
    with pytest.raises(ValueError):
        snap_range(small_grid, "x", 5.0, 33.0)  # nothing <= 5
    with pytest.raises(ValueError):
        snap_range(small_grid, "x", 12.0, 99.0)  # nothing >= 99


def test_validate_dense(small_grid, spark):
    levels = validate_dense(small_grid, ("t", "x"))
    assert levels == {"t": [0.0, 1.0, 2.0], "x": [10.0, 20.0, 30.0, 40.0]}
    broken = small_grid.filter(~((F.col("t") == 0) & (F.col("x") == 10.0)))
    with pytest.raises(ValueError, match="not dense"):
        validate_dense(broken, ("t", "x"))


def test_validate_dense_levels_match_grid_axes(spark):
    """validate_dense returns the levels grid_axes returns, equal in value
    and type, for double, long and timestamp axes."""
    from datetime import datetime

    times = [datetime(2024, 3, 10, 1, 30, 0, 250000), datetime(2024, 3, 10, 3, 45)]
    rows = [
        (t, lon, lat, 1.0)
        for t in times
        for lon in (7, -3, 2**40)
        for lat in (0.25, -0.5)
    ]
    df = spark.createDataFrame(
        rows, "time timestamp, lon long, lat double, rho double"
    ).repartition(3)
    axes = ("time", "lon", "lat")
    got, want = validate_dense(df, axes), grid_axes(df, axes)
    assert got == want
    assert got["lon"] == [-3, 7, 2**40] and got["lat"] == [-0.5, 0.25]
    assert {ax: [type(v) for v in vs] for ax, vs in got.items()} == {
        ax: [type(v) for v in vs] for ax, vs in want.items()
    }
    assert [type(v) for v in got["time"]] == [datetime, datetime]


def test_nan_axis_value_rejected_and_signed_zero_is_one_node(spark):
    """A NaN coordinate raises in both validate_dense and grid_axes
    (collect_set keeps every NaN as its own element, so it would otherwise
    yield duplicate levels); -0.0 and 0.0 are one node in both."""
    nan = float("nan")
    with_nan = spark.createDataFrame(
        [(t, x, 1.0) for t in (0.0, 1.0) for x in (0.0, nan)],
        "t double, x double, v double",
    )
    for fn in (validate_dense, grid_axes):
        with pytest.raises(ValueError, match="NaN"):
            fn(with_nan, ("t", "x"))

    signed = spark.createDataFrame(
        [(0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, -0.0, 3.0), (1.0, 1.0, 4.0)],
        "t double, x double, v double",
    )
    want = {"t": [0.0, 1.0], "x": [0.0, 1.0]}
    assert validate_dense(signed, ("t", "x")) == want
    assert grid_axes(signed, ("t", "x")) == want


def test_range_filter(small_grid):
    assert range_filter(small_grid, "x", 20.0, 30.0).count() == 6


def test_assert_time_bounds(spark):
    df = spark.createDataFrame([(1.0,), (5.0,)], "ts double")
    assert_time_bounds(df, "ts", 2.0, 4.0)  # contained → ok
    with pytest.raises(IOError):
        assert_time_bounds(df, "ts", 0.5, 4.0)
    with pytest.raises(IOError):
        assert_time_bounds(df.filter("ts > 10"), "ts", 1.0, 2.0)  # empty
